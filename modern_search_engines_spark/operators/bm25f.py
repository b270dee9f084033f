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

Spark shape: each field's tf table is already (doc_id, term)-keyed;
restricting to the query's terms FIRST (broadcastable term list) makes
every downstream table query-sized. The field combine is a full outer
join on (doc_id, term) across query-filtered fields — co-partitioned
by the same key, one shuffle each — then the scoring expression and
top-k are identical to the single-field path (F1–F11 reuse). wdl is a
per-doc scalar built from per-field doc lengths with the same outer
join on doc_id.

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


def combine_fields(fields: list[tuple[DataFrame, float]],
                   tf_col: str = "tf") -> DataFrame:
    """Full-outer combine of (doc_id, term, tf) field tables into
    (doc_id, term, wtf) with the linear field weights. Missing field
    entries count 0."""
    out = None
    for i, (df, w) in enumerate(fields):
        part = df.select(
            "doc_id", "term",
            (F.col(tf_col).cast("double") * F.lit(float(w)))
            .alias(f"_w{i}"))
        out = part if out is None else out.join(
            part, ["doc_id", "term"], "full_outer")
    wtf = sum(F.coalesce(F.col(f"_w{i}"), F.lit(0.0))
              for i in range(len(fields)))
    return out.select("doc_id", "term", wtf.alias("wtf"))


def combine_doc_lengths(lengths: list[tuple[DataFrame, float]],
                        dl_col: str = "dl") -> DataFrame:
    """(doc_id, dl) per field → (doc_id, wdl) with the same weights."""
    out = None
    for i, (df, w) in enumerate(lengths):
        part = df.select(
            "doc_id",
            (F.col(dl_col).cast("double") * F.lit(float(w)))
            .alias(f"_l{i}"))
        out = part if out is None else out.join(part, "doc_id",
                                               "full_outer")
    wdl = sum(F.coalesce(F.col(f"_l{i}"), F.lit(0.0))
              for i in range(len(lengths)))
    return out.select("doc_id", wdl.alias("wdl"))


def score_bm25f(wtf: DataFrame, wdl: DataFrame, idf: DataFrame,
                query_terms: DataFrame, *, avg_wdl: float) -> DataFrame:
    """Score combined-field tfs: one broadcast join on the query's
    terms, one doc_id-keyed join for wdl, one term-keyed join for idf,
    one (doc_id) sum — the identical plan family as the single-field
    BM25 path. Returns (doc_id, score) with score rounded to 6dp (the
    repo's cross-engine float contract)."""
    sat = bm25_saturation(F.col("wtf"), F.col("wdl"), avg_wdl)
    return (wtf.join(F.broadcast(query_terms), "term")
            .join(wdl, "doc_id")
            .join(idf, "term")
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("idf") * sat), 6).alias("score")))


def run_bm25f_batch(spark, queries: list[tuple[str, str]], index: dict,
                    k: int = 100) -> DataFrame:
    """Batch BM25F retrieval over a built index with an anchor field
    (``build_persistent_index(anchor=True)``): body tf (stage ``tf``) +
    anchor tf (stage ``anchor_field``) combined before saturation,
    per-doc weighted lengths from the ``field_norms`` stage, body idf
    from ``term_stats``. Returns (qid, rank, doc_id, score) like
    ``query.run_batch`` — an EXTENSION method: scores are pure BM25F,
    not the reference's field/recency-multiplied production score.

    Plan shape: query terms broadcast to both field scans (the anchor
    scan partition-prunes to the query terms' buckets through
    ``hashing.prune``; the flat body tf table is term-filtered by the
    broadcast join), field combine as a union + one (qid, doc_id, term)
    groupBy (one shuffle, no null-key full-outer gymnastics), then
    doc_id-keyed norms join and the same per-(qid, doc) sum as the
    single-field path. avg_wdl is one tiny aggregate over field_norms
    (all indexed docs); an empty field_norms (an index with no indexed
    docs) raises ValueError."""
    from . import query as q

    rows = q.query_term_rows(queries)
    terms = spark.createDataFrame(
        rows, "qid string, term string, qtf long, w double")
    anchor = hashing.prune(index["anchor_field"], [r[1] for r in rows],
                           index["stats"]["n_buckets"])
    wdl = index["field_norms"].select(
        "doc_id",
        (F.col("doc_len").cast("double") * F.lit(W_BODY)
         + F.col("anchor_len").cast("double")
         * F.lit(W_ANCHOR)).alias("wdl"))
    avg_wdl = wdl.agg(F.avg("wdl")).collect()[0][0]
    if avg_wdl is None:
        raise ValueError("bm25f: the index's field_norms stage is empty "
                         "(no indexed documents to score)")
    body_part = (index["tf"].join(F.broadcast(terms), "term")
                 .select("qid", "term", "doc_id", "qtf", "w",
                         (F.col("tf").cast("double")
                          * F.lit(W_BODY)).alias("part")))
    anchor_part = (anchor.join(F.broadcast(terms), "term")
                   .select("qid", "term", "doc_id", "qtf", "w",
                           (F.col("anchor_tf").cast("double")
                            * F.lit(W_ANCHOR)).alias("part")))
    wtf = (body_part.unionByName(anchor_part)
           .groupBy("qid", "doc_id", "term")
           .agg(F.sum("part").alias("wtf"),
                F.max("qtf").alias("qtf"), F.max("w").alias("w")))
    idf = index["term_stats"].select("term", "idf")
    sat = bm25_saturation(F.col("wtf"), F.col("wdl"), avg_wdl)
    scored = (wtf.join(wdl, "doc_id")
              .join(F.broadcast(idf.join(
                  terms.select("term").distinct(), "term")), "term")
              .groupBy("qid", "doc_id")
              .agg(F.sum(F.col("qtf").cast("double") * F.col("w")
                         * F.col("idf") * sat).alias("score")))
    return (q.topk(scored, k)
            .select("qid", "rank", "doc_id", "score")
            .orderBy("qid", "rank"))
