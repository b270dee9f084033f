"""Programmatic serving path — the reference's ``/search`` and
``/summarize`` endpoints (SearchEngineServer/api/views.py:33-95)
re-expressed over a built index directory.

The reference unpickles its in-memory index once at server start and
answers each POST with ``retrieve_bm25``/``retrieve_tfidf`` → top-k →
document-display dicts → optional MMR diversification
(DocumentIndex.py:219-230, views.py:51-57). ``SearchService`` is the
one front door: it IS the hot tier (``plans.hot.HotSearchService``), so
bm25 ranking (``HotSearcher.search``, rank- and score-identical to
WAND), the display rows and ``summarize`` run driver-side with pyarrow
and no Spark job. tfidf, bm25f and phrase search are answered by the
batch entry point the run_queries job uses (``query.run_batch``) over a
one-query batch; Spark also serves MMR diversity, the spell-correction
vocabulary and batch summaries. Every method collects just its ≤ top_k
ranked (doc_id, score) rows and shares the hot tier's display path, so
every method returns the reference's JSON shape (url, url_hash, title,
description, icon_url, score [, topics]).

The LDA reranker is trained lazily on first diversified search (the
reference loads its pre-trained gensim model at server start,
ReRanker.py:15-23) and topic shares are fetched per ranking via
``rerank.topics_for_docs`` — the full topic table stays distributed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from ..operators import mlhooks, query as qmod, rerank
from .build import load_index
from .hot import HotSearchService


class SearchService(HotSearchService):
    """One loaded index directory; ``search()`` per query."""

    def __init__(self, spark: SparkSession, index_dir: str):
        super().__init__(index_dir)
        self.spark = spark
        self.idx = load_index(spark, index_dir)
        self._reranker = None
        self._vocab: dict[str, int] | None = None

    # -- spell correction ---------------------------------------------------

    VOCAB_CAP = 50_000  # bounded driver-side dictionary, like a real
    #                     spellchecker's fixed word list

    def _vocabulary(self) -> dict[str, int]:
        """Top-VOCAB_CAP unigram terms by df — the correction dictionary
        (pyspellchecker ships a fixed ~word list; here the index's own
        head vocabulary plays that role, collected once and bounded)."""
        if self._vocab is None:
            rows = (self.idx["term_stats"]
                    .where(~F.col("term").contains(" "))
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(self.VOCAB_CAP)
                    .select("term", "df").collect())
            self._vocab = {r["term"]: int(r["df"]) for r in rows}
        return self._vocab

    def correct_query(self, query: str) -> str:
        """Norvig-style per-word correction against the index vocabulary
        (textlib.spell_correct_vocab) — the opt-in stand-in for the
        reference's pyspellchecker pass (Tokenizer.py:36-41)."""
        from .. import textlib
        vocab = self._vocabulary()
        return " ".join(
            textlib.spell_correct_vocab(w, vocab)
            for w in query.lower().split())

    # -- retrieval ----------------------------------------------------------

    def _ranked(self, text: str, top_k: int, method: str) -> list[dict]:
        """``text`` as a one-query ``query.run_batch`` → its ≤ top_k rows
        in rank order → the shared display path."""
        rows = qmod.run_batch(self.spark, [("q", text)], self.idx,
                              k=top_k, method=method).collect()
        return self._results([(r["doc_id"], float(r["score"]))
                              for r in rows])

    def phrase_search(self, phrase: str, top_k: int = 20) -> list[dict]:
        """Exact-phrase retrieval over the positional layer — an engine
        EXTENSION (the reference's position-free index,
        DocumentIndex.py:32,131, cannot answer phrase queries). Requires
        an index built with ``positional=True`` (ValueError otherwise);
        ranks by phrase occurrence count, ties by doc_id. A phrase with
        no tokens matches nothing."""
        from .. import textlib
        if not textlib.tokenize(phrase, 1):
            return []
        return self._ranked(phrase, top_k, "phrase")

    def search(self, query: str, top_k: int = 20,
               retrieval_method: str = "bm25",
               diversity: float | None = None,
               spell_correct: bool = True) -> list[dict]:
        """views.py:33-61 semantics. ``diversity`` ∈ [0,1] triggers MMR
        reranking with relevance_importance = 1 − diversity and
        consider=len(results), exactly the endpoint's parameters.
        ``spell_correct`` defaults ON to mirror the reference's
        always-on pyspellchecker pass (Tokenizer.py:36-41) — the vocab
        corrector is identity for in-vocabulary words, so parity-tested
        queries are unaffected; pass False to opt out (e.g. exact-term
        debugging)."""
        if spell_correct:
            query = self.correct_query(query)
        method = retrieval_method.lower()
        if method == "bm25":
            docs = self._results(self.searcher.search(query, top_k))
        elif method in ("tfidf", "bm25f"):
            # bm25f is an extension method (not in views.py's bm25|tfidf
            # set): body + in-link anchor-text fields, anchor-built index
            docs = self._ranked(query, top_k, method)
        else:
            raise ValueError(
                f"Retrieval method not supported: {retrieval_method}")
        if diversity is not None and docs:
            docs = self._rerank(docs, 1.0 - float(diversity))
        return docs

    # -- rerank -------------------------------------------------------------

    def _rerank(self, docs: list[dict],
                relevance_importance: float) -> list[dict]:
        if self._reranker is None:
            extracted = self.spark.read.parquet(
                os.path.join(self.index_dir, "extracted"))
            doc_topics_df, topics = rerank.train_lda_topics(
                extracted.select("doc_id", "single_tokens"))
            self._doc_topics_df = doc_topics_df.cache()
            self._topics = topics
            self._reranker = True
        ranking = [{"doc_id": d["url_hash"], "score": d["score"], **d}
                   for d in docs]
        shares = rerank.topics_for_docs(
            self._doc_topics_df, [d["doc_id"] for d in ranking])
        rr = rerank.MMRReRanker(shares, self._topics)
        out = rr.rank_documents(
            ranking, relevance_importance=relevance_importance,
            consider=len(ranking))
        for d in out:
            d.pop("doc_id", None)
        return out

    # -- summarize ----------------------------------------------------------

    def summarize_results(self, docs: list[dict]) -> list[dict]:
        """Batch summaries for a result list — ``generate_batch_summary``
        (Summarizer.py:11-15) semantics: a ``summary`` key is added ONLY
        to results whose stripped text exceeds MAX_SUMMARY_LEN (300)
        chars (short docs stay un-summarized — quirk replicated). The
        summarizer hook runs as one distributed Arrow stage over just
        the requested docs."""
        ids = [d["url_hash"] for d in docs]
        if not ids:
            return docs
        ext = (self.spark.read.parquet(
            os.path.join(self.index_dir, "extracted"))
            .where(F.col("doc_id").isin(ids))
            .select("doc_id", F.trim(F.col("text")).alias("text"))
            .where(F.length("text") > 300))
        got = {r["doc_id"]: r["summary"]
               for r in mlhooks.summarize(ext).collect()}
        for d in docs:
            if d["url_hash"] in got:
                d["summary"] = got[d["url_hash"]]
        return docs
