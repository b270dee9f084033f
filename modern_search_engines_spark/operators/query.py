"""Batch BM25 / TF-IDF query engine (reference §3.2/§3.3 lifecycle).

All queries are scored in ONE distributed pass (batch_retrieve.py:11-38
shape): every query's terms go into a single small DataFrame that is
broadcast-joined against the postings table, then one groupBy(qid, doc_id)
accumulates the OR-semantics union sum, and one window takes the top-k per
query. Query tokenization runs driver-side (queries are tiny —
SURVEY.md T2).

Scale notes:
* the query-terms side is broadcast (J1) — no shuffle of the postings;
* the postings scan is partition-pruned to the buckets of the query terms
  (``bucket IN (...)`` on the partition column);
* top-k is TakeOrderedAndProject per qid via window + filter — with AQE
  the shuffle for the window is coalesced; k and |queries| are small;
* display-field materialization (J2) broadcasts the top-k rows against
  the docs table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import textlib
from ..functions import hashing


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


def query_terms_df(spark: SparkSession, queries: list[tuple[str, str]],
                   ngram_max: int = 3) -> DataFrame:
    return spark.createDataFrame(
        query_term_rows(queries, ngram_max),
        "qid string, term string, qtf long, w double")


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
    """Deterministic per-query top-k: (score desc, doc_id asc) —
    the canonical tie-break (SURVEY.md §4.4) replacing the reference's
    insertion-order-stable sort (DocumentIndex.py:198-199)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def attach_documents(topk_df: DataFrame, docs: DataFrame) -> DataFrame:
    """J2: materialize display fields for the top-k rows; the k·|queries|
    side is broadcast so the docs table is never shuffled."""
    return docs.select("doc_id", "url", "title", "description",
                       "icon_url").join(F.broadcast(topk_df), "doc_id")


def run_batch(spark: SparkSession, queries: list[tuple[str, str]],
              index: dict, k: int = 100, method: str = "bm25",
              n_buckets: int | None = None) -> DataFrame:
    """Full batch retrieval (§3.3): one scoring pass for all queries.

    ``method="bm25"`` is the naive union-sum over the flat
    ``bm25_postings`` of ``indexing.build_index`` — the reference the
    WAND path over a built index is tested against; ``n_buckets``
    prunes it as in ``hashing.prune``. Returns (qid, rank, doc_id,
    score) ordered for the TSV run-file sink.
    """
    rows = query_term_rows(queries)
    terms = spark.createDataFrame(
        rows, "qid string, term string, qtf long, w double")
    if method == "bm25":
        postings = hashing.prune(index["bm25_postings"],
                                 [r[1] for r in rows], n_buckets)
        scored = score_bm25(postings, terms)
    elif method == "tfidf":
        scored = score_tfidf(index["tfidf"], index["term_stats"], terms)
    else:
        raise ValueError(f"unknown method {method!r}")
    return (topk(scored, k)
            .select("qid", "rank", "doc_id", "score")
            .orderBy("qid", "rank"))


def write_run_file(results: DataFrame, docs: DataFrame, path: str) -> None:
    """TSV run-file sink ``qid\\trank\\turl\\tscore``
    (batch_retrieve.py:31-38, S10)."""
    (results.join(docs.select("doc_id", "url"), "doc_id")
     .select("qid", "rank", "url", F.col("score").cast("string"))
     .orderBy("qid", "rank")
     .coalesce(1)
     .write.mode("overwrite").option("sep", "\t").csv(path))
