"""BM25F — field-weighted BM25 over (body, anchor, …) term fields.

The "simple BM25F" of Robertson & Zaragoza (2004/2009, public): per
(doc, term) the field tfs are combined linearly with field weights
BEFORE the BM25 saturation —

    wtf(d,t)  = Σ_f w_f · tf_f(d,t)
    wdl(d)    = Σ_f w_f · dl_f(d)
    score(d)  = Σ_{t∈q} idf(t) · (k1+1)·wtf / (wtf + k1·(1−b+b·wdl/avg_wdl))

— which is NOT the same as summing per-field BM25 scores (saturation
must happen after combination, or a term stuffed into a low-value
field escapes the tf ceiling; that mistake is the whole reason BM25F
exists). idf comes from the BODY field (the corpus-wide signal; anchor
df is a popularity artifact).

The reference engine is single-field (`/root/reference/backend/core/
BM25Ranker.py:18-61` scores body text only; its F6 "field weight"
boosts title/url term PRESENCE, not a second tf field) — BM25F over
the anchor field (operators/anchortext.py) is an ENGINE EXTENSION.

Spark shape: one kernel (``score``) serves the batch path and the
contract entry. The query's (qid, term, mult) rows are broadcast onto
both field scans, so every downstream table is query-sized; the field
combine is a union plus one (qid, doc_id, term) groupBy (one shuffle,
no null-key full-outer gymnastics); then a doc_id-keyed join for wdl,
a broadcast term-keyed join for idf and one (qid, doc_id) sum — the
single-field plan family (F1–F11 reuse).

The field weights are the constants ``W_BODY`` and ``W_ANCHOR``
(anchors upweighted — the classic web prior); the batch path and the
contract's SQL twin read the same two names. Only the anchor field is
term-hash bucketed (``functions.hashing``); the body tf table is one
flat layout, term-filtered after the scan.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from .indexing import bm25_saturation

W_BODY = 1.0
W_ANCHOR = 2.0


def score(terms: DataFrame, body_tf: DataFrame, anchor_tf: DataFrame,
          norms: DataFrame, idf: DataFrame) -> DataFrame:
    """(qid, doc_id, score) — the one BM25F kernel:
    Σ_t (mult·idf)·sat(wtf, wdl) over the query's terms.

    ``terms`` (qid, term, mult) carries each query term's weight
    (qtf·w on the batch path, 1.0 in the contract); ``body_tf``
    (doc_id, term, tf) and ``anchor_tf`` (doc_id, term, anchor_tf) are
    the two fields; ``norms`` (doc_id, doc_len, anchor_len) gives
    wdl = W_BODY·doc_len + W_ANCHOR·anchor_len, and ``avg_wdl`` is one
    tiny aggregate over every norms row; ``idf`` (term, idf) is the body
    idf. An empty ``norms`` has no average length: ValueError."""
    wdl = norms.select(
        "doc_id",
        (F.col("doc_len").cast("double") * F.lit(W_BODY)
         + F.col("anchor_len").cast("double")
         * F.lit(W_ANCHOR)).alias("wdl"))
    avg_wdl = wdl.agg(F.avg("wdl")).collect()[0][0]
    if avg_wdl is None:
        raise ValueError("bm25f: the field_norms table is empty "
                         "(no indexed documents to score)")
    body_part = (body_tf.join(F.broadcast(terms), "term")
                 .select("qid", "term", "doc_id", "mult",
                         (F.col("tf").cast("double")
                          * F.lit(W_BODY)).alias("part")))
    anchor_part = (anchor_tf.join(F.broadcast(terms), "term")
                   .select("qid", "term", "doc_id", "mult",
                           (F.col("anchor_tf").cast("double")
                            * F.lit(W_ANCHOR)).alias("part")))
    wtf = (body_part.unionByName(anchor_part)
           .groupBy("qid", "doc_id", "term")
           .agg(F.sum("part").alias("wtf"), F.max("mult").alias("mult")))
    sat = bm25_saturation(F.col("wtf"), F.col("wdl"), avg_wdl)
    return (wtf.join(wdl, "doc_id")
            .join(F.broadcast(idf.join(
                terms.select("term").distinct(), "term")), "term")
            .groupBy("qid", "doc_id")
            .agg(F.sum(F.col("mult") * F.col("idf") * sat).alias("score")))


def run_bm25f_batch(spark, queries: list[tuple[str, str]], index: dict,
                    k: int = 100) -> DataFrame:
    """Batch BM25F retrieval over a built index with an anchor field
    (``build_persistent_index(anchor=True)``): the index wiring of
    ``score`` — body tf (stage ``tf``, flat, term-filtered by the
    broadcast join), anchor tf (stage ``anchor_field``, partition-pruned
    to the query terms' buckets through ``hashing.prune``), the
    ``field_norms`` stage and body idf from ``term_stats``. Returns
    (qid, rank, doc_id, score) like ``query.run_batch`` — an EXTENSION
    method: scores are pure BM25F, not the reference's
    field/recency-multiplied production score. An empty field_norms (an
    index with no indexed docs) raises ValueError."""
    from . import query as q

    rows = q.query_term_rows(queries)
    terms = q.terms_df(spark, rows).select(
        "qid", "term",
        (F.col("qtf").cast("double") * F.col("w")).alias("mult"))
    anchor = hashing.prune(index["anchor_field"], [r[1] for r in rows],
                           index["stats"]["n_buckets"])
    return q.topk(score(terms, index["tf"], anchor, index["field_norms"],
                        index["term_stats"].select("term", "idf")), k)
