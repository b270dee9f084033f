"""The staged, resumable index build — the engine's §3.1 entry point.

pages → extracted → tf → term_stats/doc_len → postings_compressed
(+ docs display table and the derived doc_dim mapping), each stage an atomic
parquet commit with manifest/lineage/metrics (``sources.tables``), so a
killed build resumes from the last complete stage and the final tables
are byte-identical to an uninterrupted run (SURVEY.md §5.6).

At cluster scale each ``write_stage`` is an Iceberg snapshot commit and
the stage directories are tables; nothing else changes.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from ..operators import indexing, postings
from ..sources import tables
from ..sources.tables import StageWriter

STATS_FILE = "corpus_stats.json"

DOCS_DISPLAY_COLS = ("doc_id", "url", "title", "description", "icon_url",
                     "language", "warc_ts", "last_modified",
                     "sim_hi", "sim_lo")


def build_persistent_index(spark: SparkSession, pages: DataFrame,
                           out_dir: str, ngram_max: int = 3,
                           n_buckets: int = 64, n_salts: int = 8,
                           n_shards: int = 1, n_extract_chunks: int = 1,
                           use_doc2query: bool = False,
                           positional: bool = False,
                           anchor: bool = False,
                           verbose: bool = True) -> dict:
    """Run (or resume) the full staged build; returns handles + stats.

    ``n_extract_chunks`` > 1 commits the extraction stage per
    url-hash-range chunk (per-partition checkpointing): a kill mid-
    extraction resumes from the last complete chunk instead of
    restarting the stage (sources/tables.py write_stage_chunked).

    The idf-less BM25 partials feed ``build_compressed_postings``
    directly — the index's biggest intermediate (one row per (term,
    doc), tf-sized) is never round-tripped through parquet — and idf is
    multiplied in after the per-(term, bucket) aggregation. Resume
    granularity is extracted → tf → postings_compressed.

    ``n_buckets`` is recorded in ``corpus_stats.json``; every reader
    (``load_index``, the serving tiers, the query jobs) takes the
    bucket count from there.

    ``use_doc2query`` mirrors ``DocumentIndex.py:47-66`` (where it
    defaults ON): after corpus averages, every indexed doc's token
    arrays are extended with tokenized generated queries
    (operators/mlhooks.expand_for_index) so expansions flow into
    tf/df/postings. Defaults OFF here because the reference's T5
    generator isn't available in this environment — with only the
    deterministic fake, an expanded index cannot match a reference
    index anyway; flip it on when a real generator is plugged in via
    ``mlhooks.set_query_generator``. The flag is recorded in the tf
    stage's manifest params, so toggling it forces a tf rebuild on
    resume.
    """
    sw = StageWriter(spark, out_dir, verbose=verbose)

    if n_extract_chunks > 1:
        extracted = sw.write_stage_chunked(
            pages, lambda d: indexing.extract_pages(d, ngram_max),
            "extracted", n_chunks=n_extract_chunks, key_col="url")
    else:
        extracted = sw.write_stage(
            indexing.extract_pages(pages, ngram_max), "extracted")
    indexed_raw = indexing.filter_index_docs(extracted)
    indexed = indexed_raw
    if use_doc2query:
        from ..operators import mlhooks
        indexed = mlhooks.expand_for_index(indexed_raw, ngram_max)

    # corpus averages use the PRE-expansion tokens (DocumentIndex.py:50-62
    # computes them before doc2query) — avgdl never includes expansions
    def _stats() -> dict:
        stats_path = os.path.join(out_dir, STATS_FILE)
        if os.path.exists(stats_path):
            with open(stats_path) as f:
                s = json.load(f)
        else:
            s = indexing.corpus_stats(indexed_raw)
        # record n_buckets: the single source of the bucket count for
        # every reader that prunes a term-hash-bucketed table
        if s.get("n_buckets") != n_buckets:
            s["n_buckets"] = n_buckets
            # temp + atomic rename, like every stage commit: a kill mid-
            # dump must never truncate the only copy of committed stats
            tmp = stats_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(s, f)
            os.replace(tmp, stats_path)
        return s

    # Independent stages share the cluster concurrently (Spark's driver
    # is thread-safe for job submission): corpus_stats, the docs display
    # table and the tf build all depend only on `extracted`. Running
    # them back-to-back serializes three job-scheduling floors; at bench
    # scale the fixed per-job seconds are the dominant anti-scaling term
    # (Amdahl), and on a real cluster concurrent jobs keep executors
    # busy across stage tails.
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_stats = pool.submit(_stats)
        f_pos = None
        if positional:
            # opt-in positional layer (phrase / proximity queries —
            # operators/phrase.py): body-unigram positions, bucketed by
            # the SAME term-hash key as the scoring postings so phrase
            # scans dir-prune to their terms' buckets. Depends only on
            # `extracted`, so it shares the phase-A pool. Positions are
            # over the PRE-expansion stream — doc2query pseudo-tokens
            # have no real positions.
            from ..operators import phrase as phrase_ops
            f_pos = pool.submit(
                sw.write_stage,
                phrase_ops.bucketed_positional_postings(
                    indexed_raw, n_buckets=n_buckets),
                "positional_postings", inputs=("extracted",),
                partition_by=["bucket"], sort_within=["term", "doc_id"],
                params={"n_buckets": n_buckets})
        else:
            # a stale positional table from a prior positional build
            # must not survive a non-positional rebuild via load_index
            sw.drop_stage("positional_postings")
        f_anchor = None
        if anchor:
            # opt-in anchor-text field (BM25F retrieval —
            # operators/anchortext.py): reads the extraction stage's
            # anchor_pairs column (collected in the SAME html parse as
            # the text — never a second parse of the corpus) and
            # inner-joins md5(href) targets against the indexed doc-id
            # set. Depends only on `extracted`, shares the phase-A
            # pool. Bucketed by the SAME term-hash key as the scoring
            # postings so BM25F scans dir-prune.
            from ..operators import anchortext
            f_anchor = pool.submit(
                sw.write_stage,
                anchortext.build_anchor_field_from_extracted(
                    extracted, indexed_raw.select("doc_id"),
                    ngram_max, n_buckets=n_buckets),
                "anchor_field", inputs=("extracted",),
                partition_by=["bucket"], sort_within=["term", "doc_id"],
                params={"n_buckets": n_buckets,
                        "ngram_max": ngram_max})
        else:
            # stale anchor tables must not survive a non-anchor rebuild
            sw.drop_stage("anchor_field")
            sw.drop_stage("field_norms")
        # docs sorted by doc_id within partitions (no shuffle): parquet
        # min/max stats then give tight per-row-group id ranges, which
        # the hot serving tier's bounded docs lookup prunes on
        # (plans/hot.HotSearcher._doc_rows)
        f_docs = pool.submit(
            lambda: sw.write_stage(indexed_raw.select(*DOCS_DISPLAY_COLS),
                                   "docs", inputs=("extracted",),
                                   sort_within=["doc_id"],
                                   params={"sorted_by": "doc_id"}))
        f_tf = pool.submit(
            sw.write_stage, indexing.build_tf(indexed, ngram_max), "tf",
            inputs=("extracted",),
            params={"use_doc2query": use_doc2query, "ngram_max": ngram_max})
        stats = f_stats.result()
        docs = f_docs.result()
        tf = f_tf.result()
        positional_tbl = f_pos.result() if f_pos is not None else None
        anchor_tbl = f_anchor.result() if f_anchor is not None else None

    field_norms_tbl = None
    if anchor:
        # per-doc (body, anchor) lengths for BM25F's normalizer —
        # derived from the COMMITTED tf + anchor_field tables so a
        # resume that skipped both stages skips this one too
        from ..operators import anchortext
        field_norms_tbl = sw.write_stage(
            anchortext.build_field_norms(tf, anchor_tbl),
            "field_norms", inputs=("tf", "anchor_field"),
            sort_within=["doc_id"])

    # term_stats is a deterministic derivation of tf, so the compressed
    # stage consumes its own inline term-stats plan (identical result)
    # and the term_stats TABLE is committed concurrently instead of
    # serializing another job barrier. Lineage via tf covers both.
    term_stats_plan = indexing.build_term_stats(tf, stats["N"])
    doc_len = indexing.build_doc_len(tf)  # cheap, derived on the fly
    doc_fields = indexing.build_doc_fields(indexed_raw,
                                           stats["avg_date_ts"])
    # deferred idf: the idf-LESS partials go in, and the compressed stage
    # broadcast-joins term_stats onto the per-(term,bucket) aggregate —
    # the vocabulary join never touches the posting-sized fact table
    # (see build_bm25_partials)
    partials = indexing.build_bm25_partials(tf, doc_len, doc_fields,
                                            stats["avgdl"])
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_ts = pool.submit(sw.write_stage, term_stats_plan, "term_stats",
                           inputs=("tf",))
        # n_buckets (and sharding) live in the stage params: resuming
        # the same out_dir with a different bucket count must rebuild
        # this stage, not skip it and leave the on-disk layout
        # disagreeing with the n_buckets recorded in corpus_stats.json
        # pre_partitioned: the compressed plan already ends in a
        # repartition("bucket") that its merge aggregate reuses — the
        # writer must not shuffle every blob a second time
        compressed = sw.write_stage(
            postings.build_compressed_postings(partials,
                                               n_salts=n_salts,
                                               n_shards=n_shards,
                                               n_buckets=n_buckets,
                                               term_stats=term_stats_plan),
            "postings_compressed", inputs=("tf",),
            partition_by=["bucket"], sort_within=["term", "shard"],
            params={"n_buckets": n_buckets, "n_shards": n_shards},
            pre_partitioned=True)
        term_stats = f_ts.result()

    # doc_idx is a pure expression of doc_id — derive the mapping from
    # the docs table (committed in the phase-B thread pool) instead of
    # building/storing a doc_dim stage
    doc_dim = postings.doc_dim_from_docs(docs)

    return {
        "stats": stats,
        "extracted": extracted,
        "docs": docs,
        "tf": tf,
        "term_stats": term_stats,
        "postings_compressed": compressed,
        "doc_dim": doc_dim,
        "positional_postings": positional_tbl,
        "anchor_field": anchor_tbl,
        "field_norms": field_norms_tbl,
        "writer": sw,
    }


def read_stats(index_dir: str) -> dict:
    """The index's ``corpus_stats.json`` — N, avgdl, avg_date_ts and the
    bucket count every bucket-pruned reader uses. An index without a
    recorded ``n_buckets`` is refused: guessing one would prune away
    postings and answer wrongly without any error."""
    path = os.path.join(index_dir, STATS_FILE)
    with open(path) as f:
        stats = json.load(f)
    if "n_buckets" not in stats:
        raise ValueError(f"{path} records no n_buckets; rebuild the index")
    return stats


def load_index(spark: SparkSession, out_dir: str) -> dict:
    """Open a previously built index directory."""
    stats = read_stats(out_dir)
    rd = lambda n: spark.read.parquet(os.path.join(out_dir, n))  # noqa: E731
    docs = rd("docs")
    return {
        "stats": stats,
        "docs": docs,
        "tf": rd("tf"),
        "term_stats": rd("term_stats"),
        "postings_compressed": rd("postings_compressed"),
        "doc_dim": postings.doc_dim_from_docs(docs),
        "positional_postings": (
            rd("positional_postings")
            if os.path.exists(os.path.join(out_dir, "positional_postings"))
            else None),
        # read_stage_parquet: a zero-row anchor field (no in-corpus
        # links) is a legal committed stage with no data files
        "anchor_field": (
            tables.read_stage_parquet(
                spark, os.path.join(out_dir, "anchor_field"))
            if os.path.exists(os.path.join(out_dir, "anchor_field"))
            else None),
        "field_norms": (
            rd("field_norms")
            if os.path.exists(os.path.join(out_dir, "field_norms"))
            else None),
    }
