"""One-shot probe of the >16-core story (BENCH 4->16 knee): full index
build at local[8] / local[16] / local[32] on a 4× corpus (320k pages)
with Spark event logs on, so each level reports not just wall seconds
but WHERE the extra threads went — summed task run time, JVM GC time,
shuffle read/write, and memory/disk spill parsed from the task-end
events. A pure-python multiprocessing ceiling at the same core ratios
calibrates how much of the fall-off the sandbox itself imposes.

Interpretation key:
* docs/s flat 16→32 while sum(executorRunTime) GROWS → threads are
  burning cycles on contention (memory bandwidth / gVisor syscalls),
  not waiting on a serial stage;
* spill bytes > 0 at 32 but not 16 → memory pressure is the limiter
  (fix: shuffle partitions / executor memory);
* GC time fraction rising with cores → allocation-rate ceiling.

    python scripts/probe_wide_parallelism.py [--pages 320000]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def parse_eventlog(log_dir: str) -> dict[str, float]:
    agg = {"run_ms": 0, "gc_ms": 0, "mem_spill": 0, "disk_spill": 0,
           "shuffle_write": 0, "shuffle_read": 0, "cpu_ns": 0,
           "tasks": 0}
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(path):
            continue
        with open(path, errors="ignore") as f:
            for line in f:
                if '"Event":"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                m = ev.get("Task Metrics") or {}
                agg["tasks"] += 1
                agg["run_ms"] += m.get("Executor Run Time", 0)
                agg["gc_ms"] += m.get("JVM GC Time", 0)
                agg["cpu_ns"] += m.get("Executor CPU Time", 0)
                agg["mem_spill"] += m.get("Memory Bytes Spilled", 0)
                agg["disk_spill"] += m.get("Disk Bytes Spilled", 0)
                agg["shuffle_write"] += (m.get("Shuffle Write Metrics") or
                                         {}).get("Shuffle Bytes Written", 0)
                agg["shuffle_read"] += ((m.get("Shuffle Read Metrics") or
                                         {}).get("Local Bytes Read", 0) +
                                        (m.get("Shuffle Read Metrics") or
                                         {}).get("Remote Bytes Read", 0))
    return agg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=320_000)
    args = ap.parse_args()

    from bench import machine_ceiling, materialize_pages
    from modern_search_engines_spark.plans.build import \
        build_persistent_index
    from modern_search_engines_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="mse_probe_")
    results = {}
    try:
        pages_path = os.path.join(work, "pages")
        materialize_pages(args.pages, pages_path, 32)
        # warm page cache untimed
        w = get_spark("probe-warm", master="local[32]")
        w.read.parquet(pages_path).write.format("noop") \
            .mode("overwrite").save()
        w.stop()

        for cores in (8, 16, 32):
            log_dir = os.path.join(work, f"ev{cores}")
            os.makedirs(log_dir, exist_ok=True)
            spark = get_spark(
                f"probe-{cores}", master=f"local[{cores}]",
                shuffle_partitions=16,
                extra_conf={"spark.eventLog.enabled": "true",
                            "spark.eventLog.dir": f"file://{log_dir}",
                            # single uncompressed file so the parser
                            # below can read it (Spark 4 defaults to
                            # zstd rolling v2 directories)
                            "spark.eventLog.compress": "false",
                            "spark.eventLog.rolling.enabled": "false"})
            try:
                t0 = time.time()
                build_persistent_index(
                    spark, spark.read.parquet(pages_path),
                    os.path.join(work, f"idx{cores}"), verbose=False)
                wall = time.time() - t0
            finally:
                spark.stop()
                time.sleep(3)
            ev = parse_eventlog(log_dir)
            results[f"local[{cores}]"] = {
                "wall_s": round(wall, 1),
                "docs_per_s": round(args.pages / wall, 1),
                "sum_task_run_s": round(ev["run_ms"] / 1e3, 1),
                "sum_task_cpu_s": round(ev["cpu_ns"] / 1e9, 1),
                "gc_s": round(ev["gc_ms"] / 1e3, 1),
                "gc_frac_of_run": round(ev["gc_ms"] /
                                        max(ev["run_ms"], 1), 4),
                "mem_spill_mb": round(ev["mem_spill"] / 2**20, 1),
                "disk_spill_mb": round(ev["disk_spill"] / 2**20, 1),
                "shuffle_write_mb": round(ev["shuffle_write"] / 2**20, 1),
                "tasks": ev["tasks"],
            }
            print(json.dumps({f"local[{cores}]":
                              results[f"local[{cores}]"]}), flush=True)
            shutil.rmtree(os.path.join(work, f"idx{cores}"),
                          ignore_errors=True)
        results["mp_ceiling_8_32"] = round(machine_ceiling(8, 32), 3)
        results["mp_ceiling_16_32"] = round(machine_ceiling(16, 32), 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
