"""Anchor-text aggregation — the classic web-ranking external signal.

Every web search engine since the original Google paper (Brin & Page
1998 §2.2, public) indexes the anchor text of a page's IN-links as an
extra field of the target document: anchors describe a page in other
authors' words, and for popular pages they carry more ranking power
than the body text. The reference engine has no counterpart — it
indexes only a page's own body (`/root/reference/backend/core/
DocumentIndex.py:112-151` builds term→doc maps from the page text; the
crawler records links only to schedule fetches, `Crawler.py`). This
module is therefore an ENGINE EXTENSION, not a parity op.

Spark shape (the part that matters at 10^12 docs):

* ``link_anchor_rows``: links ⋈ pages on the SOURCE id to pick up each
  edge's anchor text. Both sides are huge at web scale, so this is a
  plain keyed equi-join — co-partitionable when both tables are
  bucketed by page id (the build pipeline's layout), sort-merge under
  AQE otherwise. Never broadcast: the pages side is the corpus.
* ``anchor_terms``: tokenize+explode is map-only; the (dst, term)
  count is ONE shuffle with map-side partial aggregation — in-link
  counts follow the web's power law, and hot targets (the exact skew
  case) are combined per-task before the exchange, so a page with 10^8
  in-links contributes one partial row per task, not 10^8 shuffled
  rows. The optional per-target top-k adds one window keyed by dst.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing


def build_anchor_field_from_extracted(extracted: DataFrame,
                                      indexed_ids: DataFrame,
                                      ngram_max: int = 3, *,
                                      n_buckets: int) -> DataFrame:
    """The production anchor-field build stage: the extraction stage's
    ``anchor_pairs`` column → (doc_id, term, anchor_tf, bucket) over the
    corpus' REAL link graph.

    Pipeline (every step's scale shape):
    * the (href, anchor) pairs were collected in the extraction pass's
      single html parse (``htmlx.extract_page``), so this stage is a
      column read plus the aggregation, zero extra parses — at 10^12
      docs the html parse is the pipeline's dominant CPU;
    * target id = md5(href) — the SAME id function as the extraction
      stage's md5(url) (P10), so resolving an edge to its target needs
      NO url-dimension join, just an inner join against the indexed
      doc-id set (drops links to uncrawled/rejected pages; doc_id-keyed
      and co-partitionable with every other per-doc table);
    * self-links are dropped (a page's own anchor is body text, not an
      external signal);
    * anchor text is tokenized with the INDEX tokenizer
      (``textlib.tokenize`` 1..ngram_max) so the anchor field lives in
      the same term space as tf/postings and joins by term;
    * the (doc_id, term) count is one map-side-combinable shuffle
      (power-law in-link skew arrives as per-task partials);
    * ``bucket`` = ``hashing.bucket_col("term", n_buckets)`` — the
      postings tables' partition key, so anchor scans prune to
      query-term buckets (``hashing.prune``) exactly like the scoring
      postings.
    """
    from ..functions import udfs

    tok_udf = udfs.make_tokenize_udf(ngram_max)
    edges = (extracted
             .select("url", F.explode("anchor_pairs").alias("p"))
             .filter(F.col("p.href") != F.col("url"))
             .select(F.md5(F.encode(F.col("p.href"), "UTF-8"))
                     .alias("doc_id"),
                     F.col("p.anchor").alias("anchor")))
    hits = edges.join(indexed_ids.select("doc_id"), "doc_id")
    return (hits
            .select("doc_id", F.explode(tok_udf("anchor")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("anchor_tf"))
            .withColumn("bucket", hashing.bucket_col("term", n_buckets)))


def build_field_norms(tf: DataFrame, anchor_field: DataFrame) -> DataFrame:
    """(doc_id, doc_len, anchor_len) — the per-doc length table BM25F's
    normalizer reads at query time (candidate-keyed join instead of a
    corpus-wide aggregate per batch). ``doc_len`` is the body's
    full-multiset length (quirk A7); ``anchor_len`` likewise over the
    anchor field. A full outer join: 0 anchor_len for docs with no
    in-links, 0 doc_len for anchor-only docs (no body tf), so every
    doc either field can score has a norms row."""
    body = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    anch = anchor_field.groupBy("doc_id").agg(
        F.sum("anchor_tf").alias("anchor_len"))
    return (body.join(anch, "doc_id", "full")
            .select("doc_id",
                    F.coalesce("doc_len", F.lit(0)).alias("doc_len"),
                    F.coalesce("anchor_len", F.lit(0)).alias("anchor_len")))


def link_anchor_rows(edges: DataFrame, docs: DataFrame, *,
                     n_tokens: int = 4, src_col: str = "src",
                     dst_col: str = "dst", id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(src, dst) edges → (dst, anchor_text) rows.

    Stand-in anchor model for the synthetic corpora: an edge's anchor
    text is the first ``n_tokens`` whitespace tokens of the SOURCE
    page's text (deterministic, engine-independent). On a real crawl
    the anchor string comes out of the link extractor instead; the
    aggregation below is unchanged.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    anchors = docs.select(
        F.col(id_col).alias(src_col),
        F.concat_ws(" ", F.slice(toks, 1, n_tokens)).alias("anchor_text"))
    return (edges.join(anchors, src_col)
            .select(F.col(dst_col), F.col("anchor_text")))


def anchor_terms(links: DataFrame, *, top_k: int | None = None,
                 dst_col: str = "dst",
                 text_col: str = "anchor_text") -> DataFrame:
    """Aggregate in-link anchor text per target page.

    Input: one row per (target page, anchor string). Output columns
    ``doc_id, term, anchor_tf`` (+ ``rank`` when ``top_k`` is set):
    the anchor-field term frequencies a ranker joins alongside body
    tf — BM25F-style field weighting then reuses F1–F11 unchanged.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    cnt = (links
           .select(F.col(dst_col).alias("doc_id"),
                   F.explode(toks).alias("term"))
           .groupBy("doc_id", "term")
           .agg(F.count(F.lit(1)).alias("anchor_tf")))
    if top_k is None:
        return cnt
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("anchor_tf"), F.asc("term"))
    return (cnt.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k))
