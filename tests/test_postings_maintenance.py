"""Index-maintenance operators over compressed postings:

* merge_compressed_postings — two disjoint-doc compressed tables merge
  into a table byte-identical to a from-scratch compression of the
  union (no drift across compaction cycles);
* delete_docs_from_postings — tombstoned docs vanish from every list,
  emptied lists are dropped, everything else is byte-identical.

Score partials are computed once against shared corpus stats (as the
real compaction does — global stats are scalars, recomputed cheaply)
so the only variable under test is the posting-blob machinery.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from modern_search_engines_spark import corpus
from modern_search_engines_spark.functions import codec
from modern_search_engines_spark.operators import indexing, postings


@pytest.fixture(scope="module")
def bm25(spark):
    pages = corpus.pages_df(spark, 60, seed=21,
                            num_partitions=4).drop("text", "lang")
    idx = indexing.build_index(pages, n_buckets=64)
    return idx["bm25_postings"].cache()


def _blob_map(comp_df):
    out = {}
    for r in comp_df.collect():
        out[(r["term"], r["shard"])] = tuple(
            r[k] for k in ("n", "ids_blob", "scores_blob",
                           "block_first", "block_max", "block_off"))
    return out


def test_merge_equals_from_scratch(spark, bm25):
    split = F.pmod(F.xxhash64("doc_id"), F.lit(2))
    half_a = bm25.where(split == 0)
    half_b = bm25.where(split == 1)

    comp_a = postings.build_compressed_postings(half_a, n_salts=4,
                                                n_buckets=64)
    comp_b = postings.build_compressed_postings(half_b, n_salts=4,
                                                n_buckets=64)
    merged = postings.merge_compressed_postings(comp_a, comp_b)

    full = postings.build_compressed_postings(bm25, n_salts=4, n_buckets=64)
    assert _blob_map(merged) == _blob_map(full)  # byte-identical


def test_merge_idempotent_on_empty_delta(spark, bm25):
    comp = postings.build_compressed_postings(bm25, n_salts=4, n_buckets=64)
    empty = comp.where(F.lit(False))
    merged = postings.merge_compressed_postings(comp, empty)
    assert _blob_map(merged) == _blob_map(comp)


def test_delete_docs(spark, bm25):
    comp = postings.build_compressed_postings(bm25, n_salts=4, n_buckets=64)
    all_idx = sorted(
        r["doc_idx"]
        for r in postings.doc_dim(bm25).select("doc_idx").collect())
    dead = all_idx[::3]  # tombstone every third doc

    stripped = postings.delete_docs_from_postings(comp, dead)

    # equivalent from-scratch build over the surviving docs
    dead_set = set(dead)
    surviving = bm25.where(
        ~F.conv(F.substring("doc_id", 1, 15), 16, 10).cast("long")
        .isin([int(d) for d in dead]))
    expected = postings.build_compressed_postings(surviving, n_salts=4,
                                                  n_buckets=64)
    assert _blob_map(stripped) == _blob_map(expected)

    # no deleted id survives anywhere
    for r in stripped.collect():
        ids, _ = codec.decompress(
            {k: r[k] for k in ("n", "ids_blob", "scores_blob",
                               "block_first", "block_max", "block_off")})
        assert not (np.isin(ids, np.array(dead, dtype=np.int64))).any()


def test_delete_all_docs_drops_lists(spark, bm25):
    comp = postings.build_compressed_postings(bm25, n_salts=4, n_buckets=64)
    all_idx = [r["doc_idx"]
               for r in postings.doc_dim(bm25).select("doc_idx").collect()]
    assert postings.delete_docs_from_postings(comp, all_idx).count() == 0
