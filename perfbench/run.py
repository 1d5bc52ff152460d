"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout: the library is imported from
``./bm25s_spark``, on ``local[<cores>]`` with one closed-loop client.
Every run generates its own seeded corpus, writes all data, Spark
scratch space and temp files under ``./.perfbench_work/`` (removed at
exit), checks every answer it times, prints a human-readable report and
ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and the Spark event log on, reports the
per-layer metrics instead and writes the spans to
``./.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("build", "serve")
DRIVER_MEM = "4g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _require_checkout() -> None:
    """Refuse to run anywhere but the root of a source checkout, and
    never fall back to an installed copy of the library."""
    if not os.path.isfile(os.path.join(ROOT, "bm25s_spark", "__init__.py")):
        sys.exit(f"perfbench: no bm25s_spark/ package in {ROOT}; run from "
                 "the root of a source checkout")
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    import bm25s_spark

    src = os.path.dirname(os.path.abspath(bm25s_spark.__file__))
    if src != os.path.join(ROOT, "bm25s_spark"):
        sys.exit(f"perfbench: imported bm25s_spark from {src}, not {ROOT}")


def _isolate(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    ``work`` (inside the checkout), before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = tmp


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _start_spark(work: str, trace: bool):
    from bm25s_spark import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = _cores()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    _require_checkout()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    from perfbench import report, workloads
    from perfbench.tracing import Tracer

    try:
        t_start = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer,
                            t_start=t_start)
        try:
            run = {"build": workloads.run_build,
                   "serve": workloads.run_serve}[args.workload]
            result = run(ctx)
        finally:
            _stop_spark(spark)
        if args.trace:
            tracer.fold(os.path.join(work, "eventlog"))
            tracer.write(os.path.join(
                OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
            metrics = report.layer_metrics(result, tracer)
        else:
            metrics = report.end_to_end(result)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report.print_table(args.workload, args.seed, result, metrics, tracer)
    failed = len(result.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
