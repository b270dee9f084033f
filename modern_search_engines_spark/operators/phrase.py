"""Positional postings + phrase / proximity / conjunctive matching.

The reference engine's inverted index keeps term -> doc-id sets only
(``backend/core/DocumentIndex.py:32,131`` — no positions), so its query
engine cannot answer phrase ("exact sequence") or proximity ("all terms
within a window") queries; every classic fulltext index grows them next.
This module adds the positional layer Spark-first (re-expressed, NOT
copied — there is no reference implementation to copy):

* ``positional_postings`` — (id, pos, term), 1-based positions over the
  whitespace token array. At cluster scale this is a persisted table
  partitioned by ``bucket(term_hash)`` exactly like the scoring postings
  (operators/postings.py), so a phrase query's scan is pruned to the
  phrase terms' buckets.
* ``phrase_occurrences_batch`` — phrase tf per (query, doc) for many
  phrases in ONE shuffle, no self-join chain: each posting row for a
  phrase term is tagged with the term's offset(s) inside its phrase (a
  broadcast table of Σ L rows; repeated terms get one row per offset),
  ``anchor = pos - offset`` aligns every token of a true occurrence on
  the same (qid, id, anchor) key, and one groupBy counts DISTINCT
  offsets == phrase length. The classic positional-intersection join
  chain is L-1 shuffles of the same rows; this anchor trick is one, and
  the pre-join ``term IN (phrase terms)`` filter is pushed to the scan.
  ``query.run_batch(method="phrase")`` ranks its output.
* ``proximity_match`` — docs where all query terms co-occur within a
  ``window``-token span: per-doc ordered scan of the (tiny, pre-filtered)
  query-term postings carrying a running last-seen position per term;
  a span ends at any row where every term's last occurrence is within
  ``window`` tokens.
* ``conjunctive_match`` — AND-semantics doc filter (all distinct terms
  present); composes with BM25 scoring for conjunctive top-k.

All four stay JVM-side (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import hashing


def positional_postings(docs: DataFrame, tokens_col,
                        id_col: str = "doc_id") -> DataFrame:
    """(id, pos, term) with 1-based ``pos`` over the token array."""
    return docs.select(
        id_col, F.posexplode(tokens_col).alias("pos0", "term")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "term")


def phrase_occurrences_batch(ptok: DataFrame,
                             phrases: list[tuple[str, list[str]]],
                             id_col: str = "doc_id",
                             n_buckets: int | None = None) -> DataFrame:
    """(qid, id, ptf) — occurrences of each (qid, phrase) as consecutive
    tokens, every phrase in one distributed pass. With ``n_buckets``
    the scan is pruned to the union of the phrase terms' buckets.

    A position can satisfy only one offset per anchor, so for an
    occurrence anchored at a, the rows (a+i, term_i) for i in 0..L-1
    each contribute offset i to group (qid, id, a); countDistinct(off)
    == L iff every slot matched. Over-counting is impossible: (qid, id,
    pos, off) tuples are unique because ptok rows are unique per
    (id, pos).
    """
    spark = ptok.sparkSession
    terms = sorted({t for _, toks in phrases for t in toks})
    if not terms:
        raise ValueError("no non-empty phrases")
    ptok = hashing.prune(ptok, terms, n_buckets)
    offs = spark.createDataFrame(
        [(qid, t, i, len(toks))
         for qid, toks in phrases for i, t in enumerate(toks)],
        "qid string, term string, off int, plen int")
    tagged = (
        ptok.where(F.col("term").isin(terms))
        .join(F.broadcast(offs), "term")
        .select("qid", id_col,
                (F.col("pos") - F.col("off")).alias("anchor"),
                "off", "plen")
    )
    hits = (tagged.groupBy("qid", id_col, "anchor", "plen")
            .agg(F.countDistinct("off").alias("n_off"))
            .where(F.col("n_off") == F.col("plen")))
    return hits.groupBy("qid", id_col).agg(
        F.count(F.lit(1)).alias("ptf"))


def proximity_match(ptok: DataFrame, terms: list[str], window: int,
                    id_col: str = "doc_id") -> DataFrame:
    """(id,) docs where all distinct ``terms`` appear within any
    ``window``-token span (inclusive: max_pos - min_pos <= window - 1).

    Shape: the postings are first filtered to the query terms (scan
    prune — the surviving rows per doc are ~tf of the query terms, tiny
    vs the document), then ONE per-doc ordered window carries, for each
    term t, the running last-seen position ``last_t`` (max of pos where
    term == t over the unbounded-preceding frame). A window of width
    ``window`` ending at the current row exists iff every ``last_t`` is
    non-null and ``pos - min_t(last_t) <= window - 1``. Exact — every
    minimal co-occurrence span ends at an occurrence of one of the
    terms, so scanning only query-term rows misses nothing. The L
    running-max expressions share one Window spec (one shuffle + one
    sort); L = |distinct terms| is query-sized, not data-sized.
    """
    tset = sorted(set(terms))
    rows = ptok.where(F.col("term").isin(tset))
    run = (Window.partitionBy(id_col).orderBy("pos")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lasts = [
        F.max(F.when(F.col("term") == t, F.col("pos"))).over(run)
        .alias(f"last_{i}")
        for i, t in enumerate(tset)
    ]
    rows = rows.select(id_col, "pos", *lasts)
    last_cols = [F.col(f"last_{i}") for i in range(len(tset))]
    min_last = last_cols[0] if len(last_cols) == 1 else F.least(*last_cols)
    span_ok = F.col("pos") - min_last <= window - 1
    all_seen = None
    for i in range(len(tset)):
        cond = F.col(f"last_{i}").isNotNull()
        all_seen = cond if all_seen is None else (all_seen & cond)
    return (rows.where(all_seen & span_ok)
            .select(id_col).distinct())


def bucketed_positional_postings(extracted: DataFrame, *,
                                 n_buckets: int) -> DataFrame:
    """(doc_id, pos, term, bucket) over the body unigram stream
    (``doc_unigrams`` — same cleaned tokens the tf stage counts), with
    the one term-hash layout key (``hashing.bucket_col``): ``bucket``
    becomes the stage's partition column, so a phrase query's scan is
    dir-pruned to its terms' buckets (``hashing.prune``) exactly like
    BM25 retrieval is."""
    ptok = positional_postings(extracted, F.col("doc_unigrams"))
    return ptok.withColumn("bucket", hashing.bucket_col("term", n_buckets))


def conjunctive_match(tf: DataFrame, terms: list[str],
                      id_col: str = "doc_id") -> DataFrame:
    """(id,) docs containing ALL distinct ``terms`` (AND semantics).

    tf rows are unique per (id, term), so a plain count after the
    IN-filter equals the distinct-term count; one shuffle on id."""
    tset = sorted(set(terms))
    return (tf.where(F.col("term").isin(tset))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_terms"))
            .where(F.col("n_terms") == len(tset))
            .select(id_col))
