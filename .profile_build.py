"""Profile per-stage build seconds at two parallelism levels (dev tool)."""
import json
import os
import shutil
import sys
import tempfile
import time

from modern_search_engines_spark import corpus
from modern_search_engines_spark.plans.build import build_persistent_index
from modern_search_engines_spark.session import get_spark

n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
levels = [int(x) for x in (sys.argv[2].split(",") if len(sys.argv) > 2
                           else ["1", "4"])]

work = tempfile.mkdtemp(prefix="mse_prof_")
pages_path = os.path.join(work, "pages")
spark = get_spark("prof-gen", master="local[32]", shuffle_partitions=64)
corpus.pages_df(spark, n_pages, seed=42, num_partitions=128) \
    .write.mode("overwrite").parquet(pages_path)
spark.stop()
# warm page cache
spark = get_spark("prof-warm", master="local[32]")
spark.read.parquet(pages_path).write.format("noop").mode("overwrite").save()
spark.stop()

for par in levels:
    for rep in ("a", "b"):
        out = os.path.join(work, f"idx{par}{rep}")
        spark = get_spark(f"prof-{par}{rep}", master=f"local[{par}]",
                          shuffle_partitions=max(8, par * 4))
        pages = spark.read.parquet(pages_path)
        t0 = time.time()
        h = build_persistent_index(spark, pages, out, verbose=False)
        wall = time.time() - t0
        stages = {m["name"]: m["seconds"] for m in h["writer"].metrics()}
        print(json.dumps({"par": par, "rep": rep, "wall": round(wall, 2),
                          "stages": stages}), flush=True)
        spark.stop()
        shutil.rmtree(out, ignore_errors=True)
        time.sleep(2)
shutil.rmtree(work, ignore_errors=True)
