"""spark-submit entry point: batch retrieval over a built index.

    spark-submit --py-files mse.zip jobs/run_queries.py \
        --index /data/index --queries queries.tsv --out run_dir \
        [--k 100] [--method wand|bm25|tfidf|phrase|bm25f]

Replicates the reference's batch runner (batch_retrieve.py:11-38): TSV
queries ``qid\\tquery`` in, one distributed scoring pass for ALL queries
(``query.run_batch``, the entry point ``SearchService`` answers tfidf,
bm25f and phrase through), TSV run file ``qid\\trank\\turl\\tscore`` out.
``--method wand`` (and its alias ``bm25``) uses the block-max WAND path
over compressed postings, rank-identical to the naive union-sum.
``--method phrase`` treats each query as one exact phrase and scores by
occurrence count over the positional layer (requires an index built
with ``--positional``). ``--method bm25f`` scores body + in-link
anchor-text fields combined before the k1 saturation (requires an index
built with ``--anchor``; an extension method, operators/bm25f.py). A
method whose layer the index lacks exits non-zero naming the build
flag. The bucket-pruned scans use the bucket count the index records in
``corpus_stats.json``.

``--rerank-diversity D`` applies the reference's MMR diversification
before writing (batch_retrieve.py:33 calls rank_documents with
relevance_importance=0.9 — i.e. D=0.1 — and consider=len(docs)); LDA
topics train once from the index's extracted tokens, topic shares are
fetched per ranking, and only the ≤k result rows ever reach the driver.
"""

from __future__ import annotations

import argparse
import os
import sys


def _rerank_results(spark, index_dir: str, results,
                    relevance_importance: float):
    """Per-query MMR diversification of a (qid, rank, doc_id, score)
    results frame — batch_retrieve.py:33 semantics, fully distributed
    (one applyInPandas group per query; nothing reaches the driver)."""
    from modern_search_engines_spark.operators import rerank

    extracted = spark.read.parquet(os.path.join(index_dir, "extracted"))
    doc_topics_df, topics = rerank.train_lda_topics(
        extracted.select("doc_id", "single_tokens"))
    return rerank.diversify_runs(
        results.select("qid", "rank", "doc_id", "score"), doc_topics_df,
        topics, relevance_importance=relevance_importance)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True, help="TSV qid\\tquery")
    ap.add_argument("--out", required=True, help="run-file output dir")
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--method", default="wand",
                    choices=("wand", "bm25", "tfidf", "phrase", "bm25f"))
    ap.add_argument("--rerank-diversity", type=float, default=None,
                    help="MMR diversity in [0,1]; reference batch run "
                         "uses 0.1 (relevance_importance=0.9)")
    args = ap.parse_args(argv)

    from modern_search_engines_spark.operators import query as qmod
    from modern_search_engines_spark.plans.build import load_index
    from modern_search_engines_spark.session import get_spark
    from modern_search_engines_spark.sources.tables import read_queries_tsv

    spark = get_spark("mse-run-queries")
    try:
        idx = load_index(spark, args.index)
        queries = read_queries_tsv(spark, args.queries)
        try:
            results = qmod.run_batch(spark, queries, idx, k=args.k,
                                     method=args.method)
        except ValueError as exc:  # e.g. the method's layer is missing
            raise SystemExit(f"--method {args.method}: {exc}") from None
        if args.rerank_diversity is not None:
            results = _rerank_results(
                spark, args.index, results, 1.0 - args.rerank_diversity)
        qmod.write_run_file(results, idx["docs"], args.out)
        print(f"wrote run file for {len(queries)} queries to {args.out}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
