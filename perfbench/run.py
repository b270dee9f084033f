"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload build|query --seed N \
        --seconds S --trace 0|1

Makes its inputs from ``--seed``, runs the workload (see
``workloads.py``), checks the program's outputs, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it states sample counts.
Exits non-zero, printing no result, when the program is missing or
cannot complete the workload. Scratch files live in
``.perfbench_work/`` under the current directory and are removed on
exit; Spark's JVM and Python workers are stopped before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

WORK = os.path.abspath(".perfbench_work")
DEADLINE_S = 140


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("build", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = ("modern_search_engines_spark/plans/hot.py",
              "jobs/build_index.py", "jobs/run_queries.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"not a checkout of the engine: missing {missing}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # heap sized to the 2,000-page inputs (the engine's 48g default
        # is for 10^5-page builds)
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # the JVM's temp files and perf-data file stay in the checkout
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={WORK}/tmp "
                              "-XX:-UsePerfData"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, root)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    import workloads
    try:
        res = workloads.WORKLOADS[args.workload](
            WORK, args.seed, args.seconds, bool(args.trace))
    finally:
        workloads.stop_jvm()
        signal.alarm(0)
        shutil.rmtree(WORK, ignore_errors=True)
    names = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    print("# samples: " + ", ".join(f"{k}={v}"
                                    for k, v in res.samples.items()))
    print(json.dumps(res.to_json(names)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
