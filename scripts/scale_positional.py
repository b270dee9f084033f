"""Scale evidence for the positional layer (operators/phrase.py +
plans/build.py positional=True), two measurements at N and 10N pages
on the deterministic synthetic page corpus:

1. BUILD TAX — full staged index build wall with positional=False vs
   positional=True (same corpus, same session, alternating order). The
   stage is opt-in because at 10^12 docs the positional table is the
   index's largest artifact; this measures what turning it on costs.
2. QUERY PRUNING — ``run_batch(method="phrase")`` latency over the
   committed bucketed table with bucket pruning (the recorded n_buckets)
   vs a full-table scan (n_buckets=None), min-of-2 each. Pruning should
   approach (buckets touched)/(total buckets) of the scan cost as the
   table outgrows fixed job overhead.

Prints one JSON line. Usage:
    python scripts/scale_positional.py [--sizes 8000,80000] [--cpus 16]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

PHRASE = "castle museum"  # frequent in the synthetic page text
N_BUCKETS = 64


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="8000,80000")
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    from modern_search_engines_spark import corpus
    from modern_search_engines_spark.operators import query as qmod
    from modern_search_engines_spark.plans.build import (
        build_persistent_index,
    )
    from modern_search_engines_spark.session import get_spark

    spark = get_spark("scale-positional", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus * 2)
    out: dict[str, float] = {}
    work = tempfile.mkdtemp(prefix="mse_scale_pos_")
    try:
        for n in sizes:
            pages_path = os.path.join(work, f"pages_{n}")
            (corpus.pages_df(spark, n, seed=42, num_partitions=128)
             .write.mode("overwrite").parquet(pages_path))
            # warm through the page cache, untimed (gVisor cold-read tax)
            spark.read.parquet(pages_path).write.format("noop") \
                .mode("overwrite").save()
            pages = spark.read.parquet(pages_path)

            # -- 1. build tax: alternating off,on,off,on; min per arm --
            walls = {False: [], True: []}
            for rep in range(2):
                for positional in (False, True):
                    idx_dir = os.path.join(
                        work, f"idx_{n}_{positional}_{rep}")
                    t0 = time.time()
                    build_persistent_index(
                        spark, pages, idx_dir, verbose=False,
                        n_buckets=N_BUCKETS, positional=positional)
                    walls[positional].append(time.time() - t0)
                    if not (positional and rep == 1):
                        shutil.rmtree(idx_dir, ignore_errors=True)
            base = min(walls[False])
            pos = min(walls[True])
            out[f"build_sec_{n}"] = round(base, 2)
            out[f"build_positional_sec_{n}"] = round(pos, 2)
            out[f"positional_tax_pct_{n}"] = round(
                100.0 * (pos - base) / base, 1)

            # -- 2. phrase latency: pruned vs full scan ----------------
            keep = os.path.join(work, f"idx_{n}_True_1")
            pos_path = os.path.join(keep, "positional_postings")
            # warm the freshly written table untimed (gVisor cold first
            # read is ~2x) so neither arm pays first-touch I/O
            spark.read.parquet(pos_path).write.format("noop") \
                .mode("overwrite").save()
            ptok = spark.read.parquet(pos_path)
            ts: dict[str, list[float]] = {"pruned": [], "full": []}
            for _ in range(2):  # alternate arms so a slow phase can't
                for tag, nb in (("pruned", N_BUCKETS), ("full", None)):
                    t0 = time.time()
                    index = {"positional_postings": ptok,
                             "stats": {"n_buckets": nb}}
                    qmod.run_batch(spark, [("q", PHRASE)], index, k=20,
                                   method="phrase").collect()
                    ts[tag].append(time.time() - t0)
            for tag in ("pruned", "full"):
                out[f"phrase_{tag}_sec_{n}"] = round(min(ts[tag]), 3)
            shutil.rmtree(keep, ignore_errors=True)
            shutil.rmtree(pages_path, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
