"""Scale evidence for the anchor-text layer (operators/anchortext.py +
plans/build.py anchor=True), same protocol as scale_positional.py —
two measurements at N and 10N pages on the deterministic synthetic
corpus:

1. BUILD TAX — full staged build wall with anchor=False vs anchor=True
   (same corpus, same session, alternating order, min per arm), plus
   the anchor_field / field_norms stage seconds and row counts from
   the committed manifests. The synthetic corpus' internal links
   resolve onto its first 1000 page slugs, so the in-link distribution
   is heavily skewed — the exact shape the map-side-combinable
   (dst, term) count is built for.
2. QUERY COST — 20-query batch BM25F (run_batch, anchor scan
   bucket-pruned) vs the same batch through the bm25 WAND path over the
   compressed postings, min-of-2 each, alternating: what the second
   field costs at query time.

Prints one JSON line. Usage:
    python scripts/scale_anchor.py [--sizes 8000,80000] [--cpus 16]
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

N_BUCKETS = 64
QUERIES = [(f"q{i:02d}", q) for i, q in enumerate((
    "castle museum", "hotels in tuebingen", "university research lecture",
    "river boat tour", "food restaurant review", "old town market",
    "music festival garden", "library science course", "travel guide map",
    "church history wall", "student campus semester", "bridge neckar walk",
    "art gallery theater", "wine beer cheese", "hiking trail summit",
    "professor exam course", "cafe bakery menu", "tübingen",
    "ancient tower gate", "quiet park view"))]


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
        load_index,
    )
    from modern_search_engines_spark.session import get_spark
    from modern_search_engines_spark.sources.tables import StageWriter

    spark = get_spark("scale-anchor", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus * 2)
    out: dict[str, float] = {}
    work = tempfile.mkdtemp(prefix="mse_scale_anchor_")
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
                for anchor in (False, True):
                    idx_dir = os.path.join(work, f"idx_{n}_{anchor}_{rep}")
                    t0 = time.time()
                    build_persistent_index(
                        spark, pages, idx_dir, verbose=False,
                        n_buckets=N_BUCKETS, anchor=anchor)
                    walls[anchor].append(time.time() - t0)
                    if not (anchor and rep == 1):
                        shutil.rmtree(idx_dir, ignore_errors=True)
            base, anch = min(walls[False]), min(walls[True])
            out[f"build_sec_{n}"] = round(base, 2)
            out[f"build_anchor_sec_{n}"] = round(anch, 2)
            out[f"anchor_tax_pct_{n}"] = round(
                100.0 * (anch - base) / base, 1)
            keep = os.path.join(work, f"idx_{n}_True_1")
            sw = StageWriter(spark, keep, verbose=False)
            for st in ("anchor_field", "field_norms"):
                m = sw.manifest(st) or {}
                out[f"{st}_sec_{n}"] = m.get("seconds", -1.0)
                out[f"{st}_rows_{n}"] = m.get("rows", -1)

            # -- 2. query cost: bm25f vs bm25 (WAND), alternating -----
            idx = load_index(spark, keep)
            ts: dict[str, list[float]] = {"bm25f": [], "bm25": []}
            for _ in range(2):
                for tag in ("bm25f", "bm25"):
                    t0 = time.time()
                    qmod.run_batch(spark, QUERIES, idx, k=100,
                                   method=tag).collect()
                    ts[tag].append(time.time() - t0)
            for tag in ("bm25f", "bm25"):
                out[f"batch20_{tag}_sec_{n}"] = round(min(ts[tag]), 3)
            shutil.rmtree(keep, ignore_errors=True)
            shutil.rmtree(pages_path, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
