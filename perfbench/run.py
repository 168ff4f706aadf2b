"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints notes on lines starting with '#'
and, as the last line, one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). Everything the run writes stays
under .perfbench/ in the current directory and is removed at the end,
except the traced run's span file."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()


def start_spark(work: str):
    """A local session using every CPU this process may run on, with all
    of Spark's and Python's scratch files under `work`."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import the package from this checkout; nothing is
    # written outside the run's work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    from text_search_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(spark, start_s: float, work: str, workload: str, seed: int,
            seconds: float, trace: bool, wanted: list) -> dict:
    """Run one workload on a session that took start_s to start; returns
    the result object, with its notes under "notes"."""
    from perfbench import workloads

    t = time.perf_counter()
    run = workloads.Run(spark, work, seed, seconds, trace)
    e2e = workloads.WORKLOADS[workload](run)
    run.peak_rss()
    run.layer["session.start_s"] = start_s
    run.notes.append(f"wall total: {time.perf_counter() - t:.1f} s")
    if trace:
        run.tracer.write(os.path.join(ROOT, ".perfbench", f"spans-{workload}-{seed}.json"))
    got = run.layer if trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if not trace and missing:
        raise RuntimeError(f"workload {workload} did not measure {missing}")
    # a layer the workload does not exercise reads 0
    run.notes += [f"{name}: not exercised by {workload}" for name in missing]
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
        "notes": run.notes,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "text_search_spark", "__init__.py")):
        print("perfbench: text_search_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    t = time.perf_counter()
    spark = start_spark(work)
    try:
        result = measure(spark, time.perf_counter() - t, work, args.workload, args.seed, args.seconds,
                         bool(args.trace), spec["per_layer" if args.trace else "end_to_end"])
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for note in result.pop("notes"):
        print("# " + note)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
