"""Index-build dataflow: pages → extracted → tf/df/stats → bm25 postings.

Spark-first re-expression of the reference's single-threaded index build
(/root/reference/backend/core/DocumentIndex.py:47-73 and
BM25Ranker.py:18-26). Every aggregate/join is a built-in DataFrame op so
Catalyst handles pushdown/pruning/AQE; Python appears only in the two
Arrow-batched UDFs (extraction, tokenization).

Scale design (north rule):
* Gates (PDF sniff, size, language/relevance) are plain column predicates
  applied BEFORE the expensive extraction UDF where possible, and pushed
  into the parquet scan by Catalyst.
* tf/df aggregations are algebraic (count/sum) → map-side partial
  aggregation already defuses head-term skew for them; no salt needed.
* The posting-list build (collect per term — holistic, skew-prone) uses
  an explicit salted two-phase merge — see ``postings.py``.
* BM25 parameters (N, avgdl, avg_date, pinned now) are three scalars —
  broadcast as literals, never joined.
* The per-(doc,term) field-weight lookup is a doc-keyed equi-join against
  doc-level metadata arrays, evaluated with JVM higher-order functions
  (``filter``/``array_contains``) — no Python, no explode of the metadata.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from ..functions import hashing, udfs
from ..oracle.engine import B, K1, PINNED_NOW, RECENCY_LAMBDA

MAX_HTML_CHARS = 5_000_000  # Document.py:62-64


def filter_fetchable(pages: DataFrame) -> DataFrame:
    """Content gates that the reference applies at fetch time
    (Document.py:62-64, 98-113): PDF magic-byte sniff and oversize filter.

    Runs BEFORE extraction so the UDF never sees rejected rows; both
    predicates are JVM expressions on the binary column. The magic-byte
    sniff substrings the BINARY first and casts only the 4 bytes —
    casting the whole (≤5 MB) payload to string just to read 4 chars
    would materialize it per row.
    """
    return pages.where(
        (F.substring(F.col("html"), 1, 4).cast("string") != "%PDF")
        & (F.length(F.col("html")) <= MAX_HTML_CHARS)
    )


def extract_pages(pages: DataFrame, ngram_max: int = 3) -> DataFrame:
    """pages(url, warc_ts, html, ...) → extracted documents table.

    ONE fused Arrow-batched ``mapInPandas`` pass computes the extraction
    struct (Document.py:66-96), index tokens + field-weight membership
    sets (DocumentIndex.py:112-141) and the simhash (Document.py:155-180)
    — one python worker per task slot, one Arrow serialization of the
    extracted row (vs 3 chained UDFs = 3 workers + 3 round-trips).
    ``html`` is consumed inside the map stage — downstream stages never
    carry the wide binary column (column pruning by construction).
    """
    gated = filter_fetchable(pages)
    return gated.select("url", "warc_ts", "html").mapInPandas(
        udfs.make_extract_full_fn(ngram_max), schema=udfs.EXTRACTED_SCHEMA)


JUNK_URL_PATTERNS = ("javascript:linkTo_UnCryptMailto", "tel:+")


def filter_junk_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """P14 (Crawler.py:262-263): drop junk urls (obfuscated mailto
    javascript handlers, tel: links). Applied to link frontiers and page
    scans alike."""
    cond = F.lit(True)
    for pat in JUNK_URL_PATTERNS:
        cond = cond & ~F.col(url_col).contains(pat)
    return df.where(cond)


def domain_stats(extracted: DataFrame, rollup_threshold: float = 0.05
                 ) -> DataFrame:
    """A10+A11 (DocumentsStatistics.py:8-38): pages per domain with the
    '2small2notice' long-tail rollup — domains owning less than
    ``rollup_threshold`` of the corpus fold into 'other'. Domain =
    url host without the 'www.' prefix, all JVM-side."""
    total = extracted.count()
    per = (extracted.select(
        F.regexp_replace(F.parse_url("url", F.lit("HOST")),
                         r"^www\.", "").alias("domain"))
        .groupBy("domain").agg(F.count(F.lit(1)).alias("n")))
    return (per.select(
        F.when(F.col("n") < rollup_threshold * total, F.lit("other"))
        .otherwise(F.col("domain")).alias("domain"), "n")
        .groupBy("domain").agg(F.sum("n").alias("n_pages")))


def filter_index_docs(extracted: DataFrame) -> DataFrame:
    """The reference's index-time relevance gate (DocumentIndex.py:75-88 +
    Crawler.py:239-254, SURVEY.md P12/P13): effectively
    language=='en' AND 'tübingen' ∈ single_tokens (the scheme-checking
    ``__base_url_relevant`` is always False — bug replicated, not fixed).
    """
    url_lower = F.lower(F.col("url"))
    crawler_relevant = (F.col("language") == "en") & (
        url_lower.contains("tübingen")
        | url_lower.contains("tuebingen")
        | url_lower.contains("tubingen")
        | F.array_contains("single_tokens", "tübingen")
    )
    return extracted.where(
        crawler_relevant & F.array_contains("single_tokens", "tübingen"))


def corpus_stats(indexed_docs: DataFrame) -> dict:
    """N, unigram avgdl (quirk A5), avg doc date (A6) — three scalars,
    collected once and injected as literals (never a join).
    Date math in fractional epoch seconds to mirror
    ``datetime.timestamp()`` float semantics.
    """
    row = indexed_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("single_tokens")).alias("avgdl"),
        F.avg(F.unix_micros("last_modified") / F.lit(1_000_000.0))
        .alias("avg_date_ts"),
    ).collect()[0]
    return {"N": row["n"], "avgdl": row["avgdl"],
            "avg_date_ts": row["avg_date_ts"]}


def _ngrams_col(arr, n: int):
    """Space-joined n-grams of an array column — exactly
    ``textlib.ngrams`` (JVM-side, whole-stage-codegen'd)."""
    if n == 1:
        return F.coalesce(arr, F.array().cast("array<string>"))
    return F.when(
        F.size(arr) >= n,
        F.transform(F.sequence(F.lit(1), F.size(arr) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(arr, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def index_terms_col(ngram_max: int = 3):
    """The full index-token multiset (T5 order: doc 1..n-grams, then
    title 1..n-grams appended) derived from the stored unigram arrays.
    Byte-identical to ``textlib.tokenize(joined, n) + tokenize(title, n)``
    since n-grams are pure space-joins of the cleaned unigrams."""
    parts = [_ngrams_col(F.col("doc_unigrams"), n)
             for n in range(1, ngram_max + 1)]
    parts += [_ngrams_col(F.col("title_unigrams"), n)
              for n in range(1, ngram_max + 1)]
    return F.concat(*parts)


def build_tf(indexed_docs: DataFrame, ngram_max: int = 3) -> DataFrame:
    """(doc_id, term, tf) — A1. JVM n-gram expansion + explode +
    algebraic count; map-side partial aggregation absorbs head-term
    skew. The 6x n-gram blow-up exists only inside this stage's explode,
    never in storage."""
    return (
        indexed_docs.select(
            "doc_id", F.explode(index_terms_col(ngram_max)).alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )


def build_doc_len(tf: DataFrame) -> DataFrame:
    """(doc_id, doc_len) — BM25's full-multiset length (quirk A7)."""
    return tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))


def build_term_stats(tf: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, idf) — A2 + F5. tf is already distinct per (doc,term)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).withColumn(
        "idf", F.log(F.lit(float(n_docs)) / F.col("df")))


def build_doc_fields(indexed_docs: DataFrame, avg_date_ts: float | None,
                     now: dt.datetime = PINNED_NOW) -> DataFrame:
    """(doc_id, title_terms, heading_terms, emphasis_terms, recency).

    Recency weight exp(−0.008·age_days) with integer-floor day age and
    avg-date imputation (BM25Ranker.py:44-47, DocumentIndex.py:116).
    Precomputed per doc — it does not depend on the term.
    """
    now_ts = now.timestamp()
    date_ts = F.coalesce(
        F.unix_micros("last_modified") / F.lit(1_000_000.0),
        F.lit(avg_date_ts).cast("double"),
    )
    age_days = F.floor((F.lit(now_ts) - date_ts) / F.lit(86400.0))
    recency = F.when(date_ts.isNull(), F.lit(1.0)).otherwise(
        F.exp(F.lit(-RECENCY_LAMBDA) * age_days.cast("double")))
    return indexed_docs.select(
        "doc_id", "title_terms", "heading_terms", "emphasis_terms",
        recency.alias("recency"),
    )


def bm25_saturation(tf, dl, avg_dl: float):
    """BM25's tf saturation (k1+1)·tf / (tf + k1·(1 − b + b·dl/avg_dl))
    over double Columns — the one Spark-side definition every BM25 and
    BM25F path multiplies by idf (BM25Ranker.py:18-26). Its evaluation
    order is part of the index format: the compressed postings store
    these doubles."""
    return (tf * (K1 + 1)) / (
        tf + K1 * (1 - B + B * (dl / F.lit(float(avg_dl)))))


def _partial_score_expr(avgdl: float):
    """The idf-LESS BM25 partial: recency × field-weight × tf-saturation
    (BM25Ranker.py:18-26 minus the idf factor). Field weights use
    higher-order functions over the doc-level membership arrays (F8: ×2
    title, ×1.6 per heading level, ×1.2 per emphasis class,
    compounding)."""
    t = F.col("term")
    in_title = F.array_contains("title_terms", t)
    nh = F.size(F.filter("heading_terms",
                         lambda a: F.array_contains(a, t)))
    ne = F.size(F.filter("emphasis_terms",
                         lambda a: F.array_contains(a, t)))
    weight = (
        F.when(in_title, F.lit(2.0)).otherwise(F.lit(1.0))
        * F.pow(F.lit(1.6), nh.cast("double"))
        * F.pow(F.lit(1.2), ne.cast("double"))
    )
    sat = bm25_saturation(F.col("tf").cast("double"),
                          F.col("doc_len").cast("double"), avgdl)
    return F.col("recency") * weight * sat


def build_bm25_partials(tf: DataFrame, doc_len: DataFrame,
                        doc_fields: DataFrame, avgdl: float) -> DataFrame:
    """(term, doc_id, score) with score = the idf-less partial.

    This is the fact-table side of the deferred-idf split: idf is a
    PER-TERM multiplier, so joining term_stats here would put the
    vocabulary dim against every posting row (the corpus-sized side).
    Deferring it to the per-(term,bucket) aggregate in
    ``postings.build_compressed_postings(term_stats=...)`` moves that
    join from |postings| rows to |vocabulary| rows — at web scale the
    difference between shuffling the whole index and shuffling a dim
    table (measured 1.9× on the fused stage at bench scale).

    The doc dims (doc_len, doc_fields) attach by a doc_id-keyed
    co-partitioned shuffle join, not a broadcast: it is the only shape
    that exists at 10^12 docs, where the per-doc dims are corpus-sized,
    and its N→4N scaling is clean (a broadcast's HashedRelation build is
    driver-SERIAL: it measurably caps the 1→4 core ratio even while
    lowering both absolute times). The postings partition key is added
    by the consumer (``hashing.bucket_col``)."""
    return (
        tf.join(doc_len, "doc_id").join(doc_fields, "doc_id")
        .select("term", "doc_id", _partial_score_expr(avgdl).alias("score"))
    )


def build_bm25_postings(tf: DataFrame, term_stats: DataFrame,
                        doc_len: DataFrame, doc_fields: DataFrame,
                        avgdl: float, *, n_buckets: int) -> DataFrame:
    """(term, bucket, doc_id, score) — the flat BM25 scores
    (BM25Ranker.py:18-26) of ``build_index``, the naive reference the
    tests hold the compressed index to: the idf-less partial
    (``build_bm25_partials``) × idf, the same double product the
    compressed stage stores, with the term-hash layout key
    (``hashing.bucket_col``) as its ``bucket`` column; scored by
    ``query.run_naive_bm25``."""
    return (
        build_bm25_partials(tf, doc_len, doc_fields, avgdl)
        .select("term", hashing.bucket_col("term", n_buckets).alias("bucket"),
                "doc_id", "score")
        .join(term_stats.select("term", "idf"), "term")
        .select("term", "bucket", "doc_id",
                (F.col("score") * F.col("idf")).alias("score"))
    )


def build_tfidf(tf: DataFrame, term_stats: DataFrame) -> DataFrame:
    """(term, doc_id, tfidf) — J5/F11 (DocumentIndex.py:147-151)."""
    return tf.join(term_stats.select("term", "idf"), "term").select(
        "term", "doc_id",
        (F.col("tf").cast("double") * F.col("idf")).alias("tfidf"))


def build_index(pages: DataFrame, ngram_max: int = 3,
                now: dt.datetime = PINNED_NOW, *,
                n_buckets: int) -> dict:
    """Full logical index build; returns the stage DataFrames + stats.

    Callers materialize stages via ``sources.tables.write_stage`` for
    resumability; returned frames are lazy plans otherwise.
    """
    extracted = extract_pages(pages, ngram_max)
    indexed = filter_index_docs(extracted)
    stats = corpus_stats(indexed)
    tf = build_tf(indexed, ngram_max)
    doc_len = build_doc_len(tf)
    term_stats = build_term_stats(tf, stats["N"])
    doc_fields = build_doc_fields(indexed, stats["avg_date_ts"], now)
    postings = build_bm25_postings(tf, term_stats, doc_len, doc_fields,
                                   stats["avgdl"], n_buckets=n_buckets)
    return {
        "extracted": extracted,
        "docs": indexed,
        "stats": stats,
        "tf": tf,
        "doc_len": doc_len,
        "term_stats": term_stats,
        "doc_fields": doc_fields,
        "bm25_postings": postings,
    }
