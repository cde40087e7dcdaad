#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_mix --seed 1 --seconds 5 --trace 0

Runs one workload (see ``perfbench/workloads.py``) in a fresh Spark
session on ``local[SPARK_GRAFT_CPUS or cpu count]`` and prints, as the
last line of standard output, one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` every request and operator is
traced and the metrics are the per-layer ones. Names, order and units
come from ``BENCHMARK.json``. Details and the span log
go to ``.perfbench_work/`` under the repository root, which is the only
place the benchmark writes.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def isolate(work: str) -> None:
    """Point every directory Spark, its JVM and its Python workers write
    to into ``work``, and let the workers import the package."""
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)


def calibrate(spark) -> float:
    """Median of three runs of a fixed CPU-bound job: the contention tell."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, numPartitions=8).selectExpr(
            "sum(hash(id) % 1000)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stop(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import victoriametrics_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    spark = None
    try:
        from victoriametrics_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        spark.range(1000).selectExpr("sum(id)").collect()  # warm the JIT
        calib_s = calibrate(spark)

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, work, args.seed, args.seconds, args.size)
        e2e = WORKLOADS[args.workload](ctx)
        e2e["python_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)

        # a layer the workload does not touch reads 0
        layers = {m["name"]: 0.0 for m in bench["per_layer"]}
        layers.update(ctx.layers)
        layers.update({
            "setup.session_s": session_s,
            "traced.round_s": e2e["round_s"],
            "host.cpus": os.cpu_count() or 0,
            "host.nproc": len(os.sched_getaffinity(0)),
            "host.spark_graft_cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or 0),
            "host.calib_s": calib_s,
            "host.calib_end_s": calibrate(spark),
        })
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        stem = os.path.join(
            base, "results",
            f"{args.workload}-seed{args.seed}-trace{args.trace}")
        if tracer.enabled:
            tracer.dump(stem + "-spans.json")
        with open(stem + ".json", "w") as f:
            json.dump({"args": vars(args), "end_to_end": e2e,
                       "per_layer": layers, "details": ctx.details,
                       "errors": ctx.errors}, f, indent=1)
        for err in ctx.errors:
            print(f"perfbench: check failed: {err}", file=sys.stderr)
        source, kind = (layers, "per_layer") if args.trace else (e2e, "end_to_end")
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {m["name"]: {"value": float(source[m["name"]]),
                                    "unit": m["unit"]}
                        for m in bench[kind]},
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
