"""Opt-in positional-postings stage (plans/build.py positional=True):
bucket-partitioned layout, pruned phrase scans rank-identical to the
unpruned path, load_index round-trip, and stale-table cleanup on a
non-positional rebuild."""

import os

import pytest
from pyspark.sql import functions as F

from modern_search_engines_spark import corpus
from modern_search_engines_spark.functions import hashing
from modern_search_engines_spark.operators import phrase
from modern_search_engines_spark.plans.build import (
    build_persistent_index, load_index,
)

N_BUCKETS = 16


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pages = corpus.pages_df(spark, 300, seed=7, num_partitions=8)
    pages.cache().count()
    out = str(tmp_path_factory.mktemp("posidx"))
    res = build_persistent_index(spark, pages, out, verbose=False,
                                 n_buckets=N_BUCKETS, positional=True)
    pages.unpersist()
    return out, res


def test_stage_layout_is_bucket_partitioned(built):
    out, _ = built
    stage = os.path.join(out, "positional_postings")
    assert os.path.exists(stage)
    buckets = [d for d in os.listdir(stage) if d.startswith("bucket=")]
    assert buckets, os.listdir(stage)


def test_bucket_dirs_hold_only_their_terms(built, check_bucket_layout):
    out, _ = built
    for name in ("positional_postings", "postings_compressed"):
        check_bucket_layout(os.path.join(out, name), N_BUCKETS)


def test_positions_match_extracted_unigrams(spark, built):
    out, res = built
    ptok = res["positional_postings"]
    from modern_search_engines_spark.operators import indexing
    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    want = phrase.positional_postings(
        indexing.filter_index_docs(extracted),
        F.col("doc_unigrams")).count()
    assert ptok.count() == want
    # bucket key agrees with the scoring postings' term-hash bucket
    bad = ptok.where(
        F.col("bucket") != F.pmod(F.xxhash64("term"), F.lit(N_BUCKETS)))
    assert bad.count() == 0


def test_pruned_phrase_rank_identical(spark, built):
    out, res = built
    ptok = res["positional_postings"]
    # pick a bigram that actually occurs in the corpus
    pair = (ptok.alias("a").join(
        ptok.alias("b"),
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.pos") == F.col("a.pos") + 1))
        .groupBy(F.col("a.term").alias("t0"), F.col("b.term").alias("t1"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n")).first())
    ph = [pair["t0"], pair["t1"]]
    pruned = phrase.phrase_occurrences_batch(ptok, [("q", ph)],
                                             n_buckets=N_BUCKETS)
    full = phrase.phrase_occurrences_batch(ptok, [("q", ph)],
                                           n_buckets=None)
    assert sorted(map(tuple, pruned.collect())) \
        == sorted(map(tuple, full.collect()))
    assert pruned.count() > 0


def test_prune_reads_fewer_files(built):
    out, res = built
    ptok = res["positional_postings"]
    one_term_plan = hashing.prune(
        ptok, ["castle"], N_BUCKETS)._jdf.queryExecution() \
        .executedPlan().toString()
    # partition filter must appear as a pushed partition predicate,
    # not a post-scan filter on all buckets
    assert "PartitionFilters: [" in one_term_plan
    assert "bucket" in one_term_plan.split("PartitionFilters: [", 1)[1]


def test_load_index_roundtrip_and_stale_cleanup(spark, built, tmp_path):
    out, res = built
    idx = load_index(spark, out)
    assert idx["positional_postings"] is not None
    assert idx["positional_postings"].count() \
        == res["positional_postings"].count()
    # a non-positional rebuild over the same dir drops the stale table
    pages = corpus.pages_df(spark, 300, seed=7, num_partitions=8)
    build_persistent_index(spark, pages, out, verbose=False,
                           n_buckets=N_BUCKETS, positional=False)
    assert not os.path.exists(os.path.join(out, "positional_postings"))
    assert load_index(spark, out)["positional_postings"] is None
