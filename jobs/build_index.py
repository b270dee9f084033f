"""spark-submit entry point: staged, resumable index build.

    zip -r mse.zip modern_search_engines_spark
    spark-submit --py-files mse.zip jobs/build_index.py \
        --pages /data/pages_parquet --out /data/index \
        [--ngram-max 3] [--n-buckets 64] [--n-salts 8] [--n-shards 1] \
        [--n-extract-chunks 1] [--use-doc2query] [--synthetic N] \
        [--positional] [--anchor] [--warm]

The same script runs on a multi-executor cluster (north rule: "runs via
spark-submit --py-files on multi-executor clusters") — only
--master/executor sizing differ, supplied by spark-submit. NOTE: under
spark-submit the driver JVM is launched BEFORE get_spark runs, so heap
sizing must come from spark-submit itself (--driver-memory; the
builder-conf default only applies when a plain python process launches
the JVM) — the 1 g spark-submit default OOMs on ~10^5-page corpora.
Re-running with the same --out resumes from the last complete stage.
``--n-buckets`` is recorded in ``corpus_stats.json``; the query and
serving jobs read it from there and take no bucket count of their own.
Prints one JSON line of per-stage lineage/row/byte metrics plus
build_seconds (total build wall, excluding session startup).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet path "
                    "(url, warc_ts, html[, text, lang])")
    ap.add_argument("--out", required=True, help="index output dir")
    ap.add_argument("--ngram-max", type=int, default=3)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--n-shards", type=int, default=1)
    ap.add_argument("--n-extract-chunks", type=int, default=1,
                    help="commit extraction per url-hash chunk "
                         "(per-partition checkpointing)")
    ap.add_argument("--use-doc2query", action="store_true",
                    help="expand docs with generated queries before "
                         "indexing (DocumentIndex.py use_doc2query; "
                         "plug a real generator via "
                         "mlhooks.set_query_generator)")
    ap.add_argument("--positional", action="store_true",
                    help="also commit the positional_postings stage "
                         "(bucket-partitioned body-token positions) for "
                         "phrase/proximity queries (operators/phrase.py)")
    ap.add_argument("--anchor", action="store_true",
                    help="also commit the anchor_field + field_norms "
                         "stages (in-link anchor-text term field over "
                         "the corpus' real link graph) for BM25F "
                         "retrieval (operators/anchortext.py, "
                         "operators/bm25f.py)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --pages")
    ap.add_argument("--warm", action="store_true",
                    help="run a small UNTIMED pandas-UDF pass before "
                         "starting the build clock: freshly launched "
                         "executor JVMs pay JIT/codegen/python-worker-fork "
                         "inside the first timed stage otherwise, which a "
                         "long-lived cluster's executors amortize across "
                         "thousands of jobs (same rationale as bench.py's "
                         "_warm_session)")
    args = ap.parse_args(argv)

    from modern_search_engines_spark.plans.build import build_persistent_index
    from modern_search_engines_spark.session import get_spark

    spark = get_spark("mse-build-index")
    try:
        if args.synthetic:
            from modern_search_engines_spark import corpus
            pages = corpus.pages_df(spark, args.synthetic, seed=42)
        elif args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            ap.error("one of --pages or --synthetic is required")
        import time
        if args.warm:
            from pyspark.sql import functions as F
            from pyspark.sql.functions import pandas_udf

            # lambda form: `from __future__ import annotations` turns
            # def-style pd.Series hints into strings pandas_udf can't
            # resolve under spark-submit
            _noop = pandas_udf(lambda s: s, "long")
            par = spark.sparkContext.defaultParallelism
            (spark.range(100_000).repartition(par)
             .select(F.sum(_noop("id"))).collect())
        t0 = time.time()
        idx = build_persistent_index(
            spark, pages, args.out, ngram_max=args.ngram_max,
            n_buckets=args.n_buckets, n_salts=args.n_salts,
            n_shards=args.n_shards,
            n_extract_chunks=args.n_extract_chunks,
            use_doc2query=args.use_doc2query,
            positional=args.positional, anchor=args.anchor, verbose=True)
        # total build wall (excludes session/JVM startup): the number a
        # spark-submit N-vs-4N scaling comparison reads directly
        print(json.dumps({"stats": idx["stats"],
                          "build_seconds": round(time.time() - t0, 3),
                          "stages": idx["writer"].metrics()}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
