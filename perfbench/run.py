#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in this process against the
session ``session.get_spark()`` builds, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the ``end_to_end`` ones of ``BENCHMARK.json``; with
``--trace 1`` they are the ``per_layer`` ones, and the spans are written
to ``perfbench/.traces/``.

Every run gets its own work directory (``TMPDIR``, Spark local dirs,
JVM temp dir and SQL warehouse) under ``perfbench/.work/``, so the
program's on-disk stores start cold in every run; it is removed at the
end.  Generated inputs are cached under ``perfbench/.cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _isolate(work: Path) -> None:
    """Point every temp location of Python, Spark and the JVM, and the
    Python workers' import path, at this run before anything starts."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # HotSpot writes its perf-data file under /tmp whatever
    # java.io.tmpdir says; -XX:-UsePerfData keeps the JVM out of /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o
        for o in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        if o
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_mb(*paths: Path) -> float:
    total = 0
    for root in paths:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except FileNotFoundError:
                    pass
    return total / 1e6


def _inventory(tmp: Path) -> dict[str, float]:
    """MB held by each top-level entry of the run's TMPDIR (the
    program's on-disk stores)."""
    return {
        p.name: _tree_mb(p) if p.is_dir() else p.stat().st_size / 1e6
        for p in sorted(tmp.iterdir())
    }


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _layers(run, cores: int) -> dict[str, float]:
    """Per-layer metrics from the run's spans and counters: means per
    timed pass, except the set-up times and the busy ratio."""
    t = run.tracer
    passes = max(len(run.pass_walls_s), 1)
    engine = (
        "plans.construct",
        "fetch.arrow",
        "sources.ingest_csv_to_parquet",
        "pipeline.materialize_query",
        "pipeline.export_samples_to_sqlite",
        "pipeline.generate_documentation",
        "viz.chart",
    )
    fetch = ("fetch.arrow",)
    phase = {p: t.counter(p, fetch) for p in ("analysis", "optimization", "planning")}
    per_pass = {
        "plans.construct_ms": t.total_ms("plans.construct"),
        "plans.construct_jobs": t.counter("jobs", ("plans.construct",)),
        "catalyst.analysis_ms": phase["analysis"],
        "catalyst.optimization_ms": phase["optimization"],
        "catalyst.planning_ms": phase["planning"],
        "engine.jobs": t.counter("jobs", engine),
        "engine.stages": t.counter("stages", engine),
        "engine.tasks": t.counter("tasks", engine),
        "engine.failed_tasks": t.counter("failed_tasks", engine),
        "engine.job_wall_ms": t.counter("job_wall_ms", engine),
        "engine.executor_run_ms": t.counter("executor_run_ms", engine),
        "engine.executor_cpu_ms": t.counter("executor_cpu_ms", engine),
        "engine.shuffle_write_mb": t.counter("shuffle_write_bytes", engine) / 1e6,
        "engine.shuffle_read_mb": t.counter("shuffle_read_bytes", engine) / 1e6,
        "engine.spill_mb": t.counter("spill_bytes", engine) / 1e6,
        "fetch.arrow_ms": t.total_ms("fetch.arrow"),
        "fetch.pandas_ms": t.total_ms("fetch.pandas"),
        "fetch.rows": t.counter("rows", fetch),
        # analysis ran when the plan was built, so it is not in the fetch
        "fetch.driver_residual_ms": t.total_ms("fetch.arrow")
        - phase["optimization"]
        - phase["planning"]
        - t.counter("job_wall_ms", fetch),
        "catalog.query_caches_released": t.counter("released"),
        "sources.ingest_s": t.total_ms("sources.ingest_csv_to_parquet") / 1000,
        "pipeline.materialize_s": t.total_ms("pipeline.materialize_query") / 1000,
        "pipeline.export_s": t.total_ms("pipeline.export_samples_to_sqlite") / 1000,
        "pipeline.docs_s": t.total_ms("pipeline.generate_documentation") / 1000,
        "viz.charts_s": t.total_ms("viz.chart") / 1000,
        "app.dashboard_s": t.total_ms("app.dashboard.render_static") / 1000,
    }
    return {
        "session.get_spark_s": sum(t.durations_s("session.get_spark", "setup")),
        "catalog.cache_tables_s": sum(t.durations_s("catalog.cache_tables", "setup")),
        "engine.core_busy_ratio": t.counter("executor_run_ms", engine)
        / (sum(run.pass_walls_s) * 1000 * cores),
        **{k: v / passes for k, v in per_pass.items()},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        parser.error(f"unknown workload {args.workload!r}; choose from {names}")

    work = HERE / ".work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        return _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, work: Path) -> int:
    from spark_trace import Tracer
    from workloads import WORKLOADS, Run, median

    cores = len(os.sched_getaffinity(0))
    run = Run(
        seed=args.seed,
        seconds=args.seconds,
        tracer=Tracer(enabled=bool(args.trace)),
        warehouse=work / "warehouse",
        cache=HERE / ".cache",
    )
    spark = WORKLOADS[args.workload](run)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    run.facts["rss_hwm_mb"] = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}
    peak_rss_mb = sum(run.facts["rss_hwm_mb"].values())
    cached_mb = _cached_mb(spark)
    _stop(spark)
    tmp = work / "tmp"
    written_mb = _tree_mb(tmp, run.warehouse)

    failed = len(run.failures)
    values = {
        "setup_s": run.setup_s,
        "wall_s": median(run.pass_walls_s),
        "query_p50_ms": median(run.latencies_ms),
        "peak_rss_mb": peak_rss_mb,
        "written_mb": written_mb,
        "failed_share": failed / max(run.attempted, 1),
        "cached_mb": cached_mb,
        "trace.wall_s": median(run.pass_walls_s),
    }
    if args.trace:
        values.update(_layers(run, cores))
        traces = HERE / ".traces"
        traces.mkdir(exist_ok=True)
        path = traces / f"{args.workload}-s{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}.json"
        run.tracer.dump(
            str(path),
            {
                "workload": args.workload,
                "seed": args.seed,
                "nproc": cores,
                "failures": run.failures,
                "store_inventory_mb": _inventory(tmp),
                "metrics": values,
                **run.facts,
            },
        )
        print(f"trace -> {path}", file=sys.stderr)

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec[section]
    }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
