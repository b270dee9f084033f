"""Hot (driver-side) single-query serving over a Spark-built index —
millisecond latency without a Spark job per query.

The reference unpickles its whole index into server RAM and answers in
~7 ms (views.py:25-28); the distributed ``run_wand`` path pays Spark's
~0.8 s job-scheduling floor per query instead. This module is the
architecture a real deployment uses for interactive latency: **Spark
builds and maintains the index; the serving tier reads it directly.**

Per query: tokenize driver-side (``query.query_term_rows``), hash the
terms to their buckets (the bucket count the index records in
``corpus_stats.json``) with the pure-python xxhash64 twin
(``functions/hashing`` — canary-checked against the JVM), read ONLY the
matching ``bucket=<b>`` parquet directories with pyarrow (dir-level
pruning, the same pruning the Spark scan does), and score with a
vectorized union-sum over the terms' decoded lists (exact OR semantics —
see ``search``). Hot results are rank- and score-identical to the
distributed WAND path (tested).

Memory bounds: nothing whole-index lives in RAM. A bucket is decoded
once when read (one ``codec.decompress``) and cached as term → (ids,
scores) in an LRU dict capped by ``MAX_CACHED_BUCKETS``. One
lookup, ``_doc_rows``, resolves each query's ≤ k result ids to their
doc_id AND display fields with a row-group-pruned read of the docs
parquet: the build sorts the docs stage by doc_id, so parquet column
statistics give tight per-row-group id ranges and a top-k resolution
touches O(k) row groups out of the whole table — never a full-table
dict. Resolved rows land in a capped cache, so the display of a ranked
list costs no second read. The full-scan fallback only applies to row
groups whose stats are missing.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..functions import codec, hashing
from ..operators import query as qmod
from .build import read_stats

_COLS = ["term", "n", "ids_blob", "scores_blob", "block_first"]
MAX_CACHED_BUCKETS = 64  # decoded buckets kept, least recently used out
MAX_CACHED_DOC_IDS = 65536  # resolved doc_idx -> display rows


class HotSearcher:
    """Answer single BM25 queries from a built index dir without Spark."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.n_buckets = read_stats(index_dir)["n_buckets"]
        self._buckets: dict[int, dict[str, list[tuple]]] = {}
        self._doc_cache: dict[int, dict] = {}
        self._docs_files: list[pq.ParquetFile] | None = None
        # row-group pruning observability (asserted by tests): the docs
        # table is never materialized whole — only stat-matching row
        # groups are read per top-k resolution
        self.docs_rowgroups_total = 0
        self.docs_rowgroups_read = 0
        self.docs_rows_read = 0
        hashing.require_twin()

    # -- bucket-pruned posting access ---------------------------------------

    def _bucket_rows(self, bucket: int) -> dict[str, list[tuple]]:
        """term → decoded (ids, scores) per posting row of one bucket, in
        table row order; a hit moves the bucket to the LRU cache's back."""
        out = self._buckets.pop(bucket, None)
        if out is None:
            out = {}
            path = os.path.join(self.index_dir, "postings_compressed",
                                f"bucket={bucket}")
            if os.path.isdir(path):
                table = pq.read_table(path, columns=_COLS)
                n = table.column("n").to_numpy()
                ids, scores = codec.decompress({"n": n, **{
                    c: codec.arrow_blobs(table.column(c).combine_chunks())
                    for c in _COLS[2:]}})
                ends = np.cumsum(n)
                for term, s, e in zip(table.column("term").to_pylist(),
                                      (ends - n).tolist(), ends.tolist()):
                    out.setdefault(term, []).append((ids[s:e], scores[s:e]))
            if len(self._buckets) >= MAX_CACHED_BUCKETS:
                self._buckets.pop(next(iter(self._buckets)))
        self._buckets[bucket] = out
        return out

    def _doc_parquet_files(self) -> list[pq.ParquetFile]:
        if self._docs_files is None:
            paths = sorted(glob.glob(
                os.path.join(self.index_dir, "docs", "*.parquet")))
            self._docs_files = [pq.ParquetFile(p) for p in paths]
            self.docs_rowgroups_total = sum(
                f.metadata.num_row_groups for f in self._docs_files)
        return self._docs_files

    def _doc_rows(self, doc_idxs: list[int]) -> dict[int, dict]:
        """doc_idx → docs row (doc_id and the display fields) for ≤ k
        result ids, via row-group-pruned parquet reads (bounded memory
        at any corpus size). The one docs reader: ranking resolves
        doc_ids with it, and display reads the same cached rows.

        ``doc_idx`` is the integer value of the doc_id's first 15 hex
        chars (operators/postings._doc_idx), so the matching doc_ids
        for idx i are exactly the strings in [hex15(i), hex15(i)+"g").
        The build sorts the docs stage by doc_id within partitions, so
        parquet min/max column statistics prune to O(k) row groups; a
        row group with no doc_id stats is read (correct, just unpruned).
        Resolved rows are cached (capped dict — the working set of an
        interactive session, not the corpus)."""
        missing = [i for i in doc_idxs if i not in self._doc_cache]
        if not missing:
            return self._doc_cache
        prefixes = sorted(format(i, "015x") for i in set(missing))
        pref_set = set(prefixes)
        for pf in self._doc_parquet_files():
            md = pf.metadata
            col_idx = md.schema.to_arrow_schema().names.index("doc_id")
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(col_idx).statistics
                if stats is not None and stats.has_min_max:
                    lo, hi = stats.min, stats.max
                    # any wanted range [p, p+"g") intersecting [lo, hi]?
                    if not any(p <= hi and lo < p + "g" for p in prefixes):
                        continue
                tbl = pf.read_row_group(rg, columns=[
                    "doc_id", "url", "title", "description", "icon_url"])
                self.docs_rowgroups_read += 1
                self.docs_rows_read += tbl.num_rows
                mask = pc.is_in(
                    pc.utf8_slice_codeunits(tbl.column("doc_id"), 0, 15),
                    value_set=pa.array(prefixes))
                for row in tbl.filter(mask).to_pylist():
                    d = row["doc_id"]
                    if d[:15] in pref_set:
                        self._doc_cache[int(d[:15], 16)] = row
        if len(self._doc_cache) > MAX_CACHED_DOC_IDS:
            keep = set(doc_idxs)
            self._doc_cache = {
                i: r for i, r in self._doc_cache.items() if i in keep}
        return self._doc_cache

    # -- query --------------------------------------------------------------

    def search(self, query: str, top_k: int = 10
               ) -> list[tuple[str, float]]:
        """[(doc_id, score)] — rank/score-identical to ``run_wand`` (and
        therefore to the single-node oracle's retrieve).

        The hot tier scores with a fully-vectorized union-sum: every
        matching posting list (decoded once, when its bucket was read)
        has its scores scaled by the query-side multiplier, and per-doc
        sums + top-k come from one ``np.unique``/``bincount``/``lexsort``
        pass. For interactive single queries this beats the pythonic
        document-at-a-time WAND loop by ~30× (the per-posting Python
        step dominates below ~10^6 postings); the WAND path remains the
        distributed batch engine, where pruning saves real decode work
        per shard. The driver-RAM bound (query terms' posting volume)
        is the same bound the reference's whole-index-in-RAM design has
        — beyond it, use the distributed path.
        """
        rows = qmod.query_term_rows([("q", query)])
        id_parts: list[np.ndarray] = []
        score_parts: list[np.ndarray] = []
        for _, term, qtf, w in rows:
            bucket = hashing.bucket_of(term, self.n_buckets)
            mult = float(qtf) * w
            for ids, scores in self._bucket_rows(bucket).get(term, ()):
                id_parts.append(ids)
                score_parts.append(scores * mult)
        if not id_parts:
            return []
        all_ids = np.concatenate(id_parts)
        all_scores = np.concatenate(score_parts)
        uniq, inverse = np.unique(all_ids, return_inverse=True)
        sums = np.bincount(inverse, weights=all_scores,
                           minlength=uniq.size)
        # full lexsort, not argpartition: score TIES are common (idf=0
        # terms score exactly 0.0 for every doc) and a partition at the
        # k boundary would admit an arbitrary subset of the tied docs —
        # the canonical (score desc, doc_idx asc) tie-break must see
        # them all. Sorting the candidate set is ~ms up to 10^6 docs,
        # inside the hot tier's driver-RAM bound anyway.
        order = np.lexsort((uniq, -sums))
        top = order[:top_k]
        rows = self._doc_rows([int(uniq[i]) for i in top])
        return [(rows[int(uniq[i])]["doc_id"], float(sums[i]))
                for i in top]


class HotSearchService:
    """The driver-side serving surface ``plans.http_api.make_wsgi_app``
    serves: ``POST /search`` / ``POST /summarize`` at interactive
    latency, with no Spark job (or session) per request; Spark only
    builds and maintains the index. ``plans.serve.SearchService``
    extends it with the Spark-only methods.

    Retrieval is the hot tier's bm25 union-sum (rank-identical to the
    distributed WAND path); ``retrieval_method="tfidf"`` raises
    ValueError → the endpoint's 400, since tf-idf partials are not part
    of the compressed hot artifact. Display fields come from the
    searcher's one docs lookup (``HotSearcher._doc_rows``), which
    already read and cached them while resolving the ranked doc_ids;
    ``diversity`` is accepted for endpoint-shape compatibility and
    raises loudly (MMR reranking needs the LDA topic table — serve that
    combination from ``SearchService``)."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.searcher = HotSearcher(index_dir)

    def _results(self, ranked: list[tuple[str, float]]) -> list[dict]:
        """[(doc_id, score)] in rank order → reference-shaped dicts
        (DocumentIndex.__get_documents minus raw_text, which views.py
        deletes before responding anyway). A ranked doc absent from the
        docs stage is dropped."""
        if not ranked:
            return []
        idxs = [int(d[:15], 16) for d, _ in ranked]
        rows = self.searcher._doc_rows(idxs)
        out = []
        for (d, score), i in zip(ranked, idxs):
            r = rows.get(i)
            if r is not None and r["doc_id"] == d:
                out.append({
                    "url": r["url"], "url_hash": d, "title": r["title"],
                    "description": r["description"],
                    "icon_url": r["icon_url"], "score": score})
        return out

    def search(self, query: str, top_k: int = 20,
               retrieval_method: str = "bm25",
               diversity: float | None = None) -> list[dict]:
        if retrieval_method.lower() != "bm25":
            raise ValueError(
                f"Retrieval method not supported: {retrieval_method} "
                "(hot tier serves bm25; use SearchService for tfidf)")
        if diversity is not None:
            raise ValueError(
                "diversity reranking needs the Spark-backed "
                "SearchService (LDA topic table)")
        return self._results(self.searcher.search(query, top_k=top_k))

    def summarize(self, url_hash: str) -> str | None:
        """views.py:64-95: the document's text by url_hash through the
        (pluggable) summarizer; None when the doc is absent (the
        endpoint's 404)."""
        import pyarrow.dataset as ds

        from ..operators import mlhooks
        dset = ds.dataset(os.path.join(self.index_dir, "extracted"),
                          format="parquet")
        tbl = dset.to_table(columns=["text"],
                            filter=ds.field("doc_id") == url_hash)
        if tbl.num_rows == 0:
            return None
        return mlhooks._summarizer(tbl.column("text")[0].as_py() or "")
