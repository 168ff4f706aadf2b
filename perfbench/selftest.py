"""Toy-size self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

For every workload, at toy input sizes and 1-second runs, in one Spark
session:
  * the untraced run emits every end-to-end metric, and the traced run
    every per-layer metric except those of layers the workload does not
    use (NOT_EXERCISED);
  * every output check passes;
  * two traced runs with the same seed give identical counts.
Prints one line per finding and exits non-zero if any fails."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench import workloads  # noqa: E402

TOY_SIZES = {"SERVE_DOCS": 200, "MAINTAIN_DOCS": 150, "DEDUP_DOCS": 200}
SAME_SEED_COUNTS = ("build.total_tokens", "build.segment_bytes", "dedup.pairs")
NOT_EXERCISED = {
    "serve": ("incremental.", "delete.", "merge.", "format.",
              "span.upsert.", "span.delete.", "span.compact."),
    "maintain": ("dedup.", "query.batch", "span.query_batch.",
                 "span.minhash.", "span.simhash."),
}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for k, v in TOY_SIZES.items():
        setattr(workloads, k, v)
    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    t = time.perf_counter()
    spark = bench.start_spark(work)
    start_s = time.perf_counter() - t
    problems = []
    try:
        for w in workloads.WORKLOADS:
            plain = bench.measure(spark, start_s, work, w, 1, 1.0, False, spec["end_to_end"])
            traced = [bench.measure(spark, start_s, work, w, 1, 1.0, True, spec["per_layer"])
                      for _ in range(2)]
            for name, res in [("untraced", plain)] + [("traced", r) for r in traced]:
                if not res["correct"]:
                    problems.append(f"{w} {name}: output checks failed: "
                                    + "; ".join(n for n in res["notes"] if "fail" in n or "raised" in n))
            skipped = [n.split(":")[0] for n in traced[0]["notes"] if "not exercised" in n]
            bad = [n for n in skipped if not n.startswith(NOT_EXERCISED[w])]
            if bad:
                problems.append(f"{w}: per-layer metrics not measured: {bad}")
            for c in SAME_SEED_COUNTS:
                a, b = (r["metrics"][c]["value"] for r in traced)
                if a != b:
                    problems.append(f"{w}: {c} differs for the same seed: {a} vs {b}")
            print(f"{w}: checked ({plain['attempted'] + sum(r['attempted'] for r in traced)} "
                  "calls and output checks)", flush=True)
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL " + p)
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
