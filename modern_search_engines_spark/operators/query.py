"""Batch retrieval over a built index (reference §3.2/§3.3 lifecycle).

``run_batch`` is the one Spark entry point per retrieval method: the
run_queries job and ``SearchService`` both call it, the way the
reference answers ``POST /search`` and ``batch_retrieve.py`` through the
same ``DocumentIndex.retrieve_*`` (DocumentIndex.py:219-230,
batch_retrieve.py:33). Every method is one aggregate over all queries
(batch_retrieve.py:11-38 shape) followed by one per-query top-k: every
query's terms go into a single small DataFrame that is broadcast-joined
against the scanned table, one groupBy(qid, doc_id) accumulates the
score, and one window takes the top-k per query. Query tokenization runs
driver-side (queries are tiny — SURVEY.md T2).

Scale notes:
* the query-terms side is broadcast (J1) — no shuffle of the postings;
* bucketed scans are partition-pruned to the buckets of the query terms
  (``bucket IN (...)`` on the partition column);
* top-k is TakeOrderedAndProject per qid via window + filter — with AQE
  the shuffle for the window is coalesced; k and |queries| are small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import textlib


def query_term_rows(queries: list[tuple[str, str]],
                    ngram_max: int = 3) -> list[tuple[str, str, int, float]]:
    """(qid, term, qtf, w) rows — tokenize driver-side, keep term
    multiplicity (BM25Ranker.py:51 counts duplicates) and the n-gram
    weight (F9)."""
    rows = []
    for qid, query in queries:
        counts: dict[str, int] = {}
        for t in textlib.tokenize_query(query, ngram_max):
            counts[t] = counts.get(t, 0) + 1
        for term, qtf in counts.items():
            rows.append((qid, term, qtf, textlib.ngram_query_weight(term)))
    return rows


def score_bm25(postings: DataFrame, terms: DataFrame) -> DataFrame:
    """(qid, doc_id, score) — union-accumulate Σ qtf·w·partial
    (BM25Ranker.py:49-61, A9). Broadcast hash join on term."""
    return (
        postings.join(F.broadcast(terms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("score") * F.col("w")
                   * F.col("qtf").cast("double")).alias("score"))
    )


def score_tfidf(tfidf: DataFrame, term_stats: DataFrame,
                terms: DataFrame) -> DataFrame:
    """(qid, doc_id, score) — Σ (qtf·idf)·(tf·idf) per distinct term
    (DocumentIndex.py:153-170)."""
    q = terms.join(term_stats.select("term", "idf"), "term").select(
        "qid", "term",
        (F.col("qtf").cast("double") * F.col("idf")).alias("q_tfidf"))
    return (
        tfidf.join(F.broadcast(q), "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("q_tfidf") * F.col("tfidf")).alias("score"))
    )


def topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k of a (qid, doc_id, score) frame:
    (score desc, doc_id asc) — the canonical tie-break (SURVEY.md §4.4)
    replacing the reference's insertion-order-stable sort
    (DocumentIndex.py:198-199). Returns (qid, rank, doc_id, score)
    ordered by (qid, rank)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "rank", "doc_id", "score")
            .orderBy("qid", "rank"))


def terms_df(spark: SparkSession, rows: list) -> DataFrame:
    """The broadcast side of every method: ``query_term_rows`` as a
    (qid, term, qtf, w) frame."""
    return spark.createDataFrame(
        rows, "qid string, term string, qtf long, w double")


def _layer(index: dict, name: str, what: str, flag: str) -> DataFrame:
    """The index's optional ``name`` stage; ValueError naming the build
    flag when the index was built without it (or the dict sets None)."""
    df = index.get(name)
    if df is None:
        raise ValueError(
            f"{what} needs an index built with {flag}=True "
            f"(build_persistent_index(..., {flag}=True) or "
            f"jobs/build_index.py --{flag})")
    return df


def run_batch(spark: SparkSession, queries: list[tuple[str, str]],
              index: dict, k: int = 100, method: str = "wand") -> DataFrame:
    """Batch retrieval over a loaded index (``plans.build.load_index``):
    one scoring pass for all queries, returning (qid, rank, doc_id,
    score) ordered by (qid, rank) for the TSV run-file sink.

    * ``wand`` (alias ``bm25``): block-max WAND over the compressed
      postings (``wand.run_wand``), bucket-pruned with the index's
      recorded bucket count;
    * ``tfidf``: Σ (qtf·idf)·(tf·idf) planned from ``tf`` and
      ``term_stats`` (``score_tfidf``);
    * ``bm25f``: body + anchor fields (``bm25f.run_bm25f_batch``; needs
      an ``anchor=True`` index);
    * ``phrase``: each query is one exact phrase, scored by occurrence
      count over the positional layer (``phrase.phrase_occurrences_batch``;
      needs a ``positional=True`` index).

    Ties rank by doc_id (``topk``). ValueError for an unknown method or
    a missing layer.
    """
    if method in ("wand", "bm25"):
        from .wand import run_wand
        return run_wand(spark, queries, index["postings_compressed"],
                        index["doc_dim"], k=k,
                        n_buckets=index["stats"]["n_buckets"])
    if method == "bm25f":
        from .bm25f import run_bm25f_batch
        _layer(index, "anchor_field", "bm25f", "anchor")
        return run_bm25f_batch(spark, queries, index, k=k)
    if method == "tfidf":
        from .indexing import build_tfidf
        terms = terms_df(spark, query_term_rows(queries))
        scored = score_tfidf(build_tfidf(index["tf"], index["term_stats"]),
                             index["term_stats"], terms)
    elif method == "phrase":
        from .phrase import phrase_occurrences_batch
        ptok = _layer(index, "positional_postings", "phrase search",
                      "positional")
        phrases = [(qid, textlib.tokenize(q, 1)) for qid, q in queries]
        hits = phrase_occurrences_batch(
            ptok, [(qid, toks) for qid, toks in phrases if toks],
            n_buckets=index["stats"]["n_buckets"])
        scored = hits.select("qid", "doc_id",
                             F.col("ptf").cast("double").alias("score"))
    else:
        raise ValueError(f"unknown method {method!r}")
    return topk(scored, k)


def run_naive_bm25(spark: SparkSession, queries: list[tuple[str, str]],
                   index: dict, k: int = 100) -> DataFrame:
    """The naive union-sum over the flat ``bm25_postings`` of
    ``indexing.build_index`` — the reference the WAND path over a built
    index is tested against. Returns (qid, rank, doc_id, score) ordered
    like ``run_batch``."""
    return topk(score_bm25(index["bm25_postings"],
                           terms_df(spark, query_term_rows(queries))), k)


def write_run_file(results: DataFrame, docs: DataFrame, path: str) -> None:
    """TSV run-file sink ``qid\\trank\\turl\\tscore``
    (batch_retrieve.py:31-38, S10)."""
    (results.join(docs.select("doc_id", "url"), "doc_id")
     .select("qid", "rank", "url", F.col("score").cast("string"))
     .orderBy("qid", "rank")
     .coalesce(1)
     .write.mode("overwrite").option("sep", "\t").csv(path))
