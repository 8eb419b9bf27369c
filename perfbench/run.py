"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One workload runs per process on
local[<cores>]. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, where the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1`` (names and units as in BENCHMARK.json). ``attempted``
counts operations and output checks; ``failed`` counts operations that
raised and checks that found a wrong output. The lines above it name every
metric with its unit, plus the workload-specific figures.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "cdmx_airquality_etl_spark"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in parents.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for each pid to exit; kill what outlives ``timeout``, then wait
    for the kill to land."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                continue
            for _ in range(100):
                if not os.path.exists(f"/proc/{pid}"):
                    break
                time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched and the Python
    workers it forked, and wait until all of them have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
                proc.kill()
                proc.wait()
        _wait_gone(workers, 30)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pytmp"))
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": os.path.join(tmp, "pytmp"),
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_DRIVER_MEM": "768m",
        }
    )
    b = workloads.Bench(args.seed, args.seconds, bool(args.trace), tmp, T0)
    try:
        workloads.WORKLOADS[args.workload](b)
    finally:
        if b.spark is not None:
            stop_spark(b.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = b.layer if args.trace else b.e2e
    metrics = {m["name"]: (got.get(m["name"], (0.0, m["unit"]))[0], m["unit"]) for m in wanted}
    for p in b.problems:
        print(f"FAILED: {p}")
    for n in b.notes:
        print(f"note: {n}")
    print(f"error_ratio: {b.failed / max(b.attempted, 1):.4f} fraction")
    if args.trace:  # the end-to-end figures under tracing, for its overhead
        for name, (v, unit) in b.e2e.items():
            print(f"traced {name}: {v:.6g} {unit}")
    for name, (v, unit) in metrics.items():
        print(f"{name}: {v:.6g} {unit}")
    print(json.dumps({
        "correct": not b.problems,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
