"""Benchmark entry point.

    python3 perfbench/run.py --workload query_local --seed 1 --seconds 10 --trace 0

Runs one seeded workload against the engine in this checkout on a local
Spark session with one closed-loop client, checks every query result
against the pure-Python oracle, and prints one JSON object as the last line
of standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it carries the run context. All files the
run writes stay under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def _driver_memory() -> str:
    """A driver heap that fits the box: a sixth of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, kb // (6 * 1024 * 1024)))}g"


def _prepare_env(work: str) -> None:
    """Environment the session and its Python workers inherit; set before
    the engine is imported (it reads its settings at import, and runs with
    its default driver-local query byte bound)."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM the session launches keeps its temp files in the work dir
    # and writes no perf-data file to the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(
        work, "tmp"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_LOCAL_QUERY_MAX_BYTES", None)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

    import probes
    import workloads
    from pageindex_spark.session import get_spark

    canary_before = probes.cpu_canary_ms()
    cores = len(os.sched_getaffinity(0))
    driver_memory = _driver_memory()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=cores,
        driver_memory=driver_memory,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        env = workloads.Env(
            spark=spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, tracer=probes.Tracer(),
            jobs=probes.SparkJobs(spark.sparkContext) if args.trace else None,
            startup_s=time.perf_counter() - T_START,
        )
        outcome = workloads.WORKLOADS[args.workload](env)
        rss = {
            "driver": probes.driver_peak_rss_mb(),
            "jvm": probes.jvm_peak_rss_mb(jvm_pid),
        }
    finally:
        _stop(spark)
    canary_after = probes.cpu_canary_ms()

    metrics = dict(outcome.metrics)
    # The JVM's peak RSS steps with G1 heap growth (1.37 or 1.65 GB across
    # seeds of one workload), too wide for a bound; it is a layer metric.
    metrics["driver_peak_rss_mb"] = rss["driver"]
    layer = outcome.detail.pop("layer")
    layer["process.driver_rss_mb"] = rss["driver"]
    layer["process.jvm_rss_mb"] = rss["jvm"]
    section = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else metrics
    # A layer the workload does not exercise (say, deletes on query_local)
    # did no work in the run and reads 0; the context names those layers.
    report, idle = {}, []
    for m in spec[section]:
        if m["name"] not in values:
            if not args.trace:
                raise KeyError(f"metric {m['name']} was not measured")
            idle.append(m["name"])
        value = float(values.get(m["name"], 0.0))
        report[m["name"]] = {"value": value, "unit": m["unit"]}

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_cores": cores,
        "driver_memory": driver_memory,
        "cpu_canary_ms": {"before": canary_before, "after": canary_after},
        "error_rate": outcome.failed / max(1, outcome.attempted),
        "startup_s": env.startup_s,
        "wall_s": time.perf_counter() - T_START,
        "layers_not_exercised": idle,
        **outcome.detail,
    }
    os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
    stem = os.path.join(
        work_root, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": report,
    }
    with open(stem + ".json", "w") as f:
        json.dump({"context": context, "result": result, "all": {**metrics, **layer}}, f, indent=1)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(env.tracer.dump(), f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
