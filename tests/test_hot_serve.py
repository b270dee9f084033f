"""Hot (no-Spark-job) serving path: rank- and score-identical to both
the distributed WAND path and the single-node oracle, at driver-side
latency (no per-query Spark job)."""

import time

import pytest

from modern_search_engines_spark import corpus, textlib
from modern_search_engines_spark.functions import codec, hashing
from modern_search_engines_spark.operators import wand
from modern_search_engines_spark.oracle import OracleEngine
from modern_search_engines_spark.oracle.engine import doc_from_page
from modern_search_engines_spark.plans import hot as hotmod
from modern_search_engines_spark.plans.build import (build_persistent_index,
                                                     load_index)
from modern_search_engines_spark.plans.hot import (HotSearcher,
                                                   HotSearchService)

N, SEED = 60, 17

QUERIES = ["castle museum", "university research lecture",
           "food restaurant river", "tübingen", "quiet park view"]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("hot") / "idx")
    pages = corpus.pages_df(spark, N, seed=SEED,
                            num_partitions=2).drop("text", "lang")
    build_persistent_index(spark, pages, out, n_shards=2, verbose=False)
    return out


@pytest.fixture(scope="module")
def oracle():
    eng = OracleEngine()
    eng.build([doc_from_page(p["url"], p["html"].decode())
               for p in corpus.generate_pages(N, seed=SEED)])
    return eng


def test_hot_matches_oracle_and_spark(spark, index_dir, oracle):
    hot = HotSearcher(index_dir)
    idx = load_index(spark, index_dir)
    for q in QUERIES:
        got = hot.search(q, top_k=10)
        expected = oracle.retrieve(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9)
        spark_res = wand.run_wand(
            spark, [("q", q)], idx["postings_compressed"],
            idx["doc_dim"], k=10).collect()
        assert [r["doc_id"] for r in spark_res] == [d for d, _ in got], q


def test_hot_latency_is_driver_side(index_dir):
    hot = HotSearcher(index_dir)
    hot.search(QUERIES[0], top_k=10)  # warm the bucket cache + doc map
    t0 = time.time()
    for q in QUERIES * 4:
        hot.search(q, top_k=10)
    per_query = (time.time() - t0) / (len(QUERIES) * 4)
    # generous bound: no Spark job floor (~0.8 s) anywhere in the path
    assert per_query < 0.1, per_query


def test_hot_absent_terms(index_dir):
    hot = HotSearcher(index_dir)
    assert hot.search("zzqqxx absent", top_k=5) == []


def test_hot_doc_id_lookup_is_rowgroup_pruned(index_dir, tmp_path,
                                              monkeypatch):
    """The docs lookup (doc_idx→doc_id and display fields) must NEVER
    materialize the docs table: with a doc_id-sorted docs file split
    into many row groups, a top-k search reads only the stat-matching
    groups and O(k) rows, and the service's display rows come from that
    same read, never from a pyarrow dataset scan."""
    import glob
    import shutil

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    idx2 = str(tmp_path / "idx2")
    shutil.copytree(index_dir, idx2)
    docs_dir = f"{idx2}/docs"
    table = pq.read_table(docs_dir)
    table = table.sort_by("doc_id")
    for f in glob.glob(f"{docs_dir}/*.parquet"):
        import os
        os.remove(f)
    pq.write_table(table, f"{docs_dir}/part-rewrite.parquet",
                   row_group_size=4)

    hot = HotSearcher(idx2)
    got = hot.search(QUERIES[0], top_k=5)
    baseline = HotSearcher(index_dir).search(QUERIES[0], top_k=5)
    assert got == baseline
    n_docs = table.num_rows
    assert hot.docs_rowgroups_total >= n_docs // 4
    # ≤ k groups actually read (one per result id, often fewer),
    # never the whole table
    assert 0 < hot.docs_rowgroups_read <= 5
    assert hot.docs_rows_read <= 5 * 4
    # repeat query: served from the resolved-id cache, zero new reads
    before = hot.docs_rowgroups_read
    assert hot.search(QUERIES[0], top_k=5) == got
    assert hot.docs_rowgroups_read == before

    # the service displays from the searcher's one lookup: same dicts
    # as on the original index, ≤ k row groups, none on a repeat
    want = HotSearchService(index_dir).search(QUERIES[0], top_k=5)
    assert [d["url_hash"] for d in want] == [d for d, _ in got]

    dataset = ds.dataset

    def no_docs_dataset(source, *a, **k):
        # pq.read_table (the bucket reads) builds datasets too
        if str(source).startswith(docs_dir):
            raise AssertionError("display scanned a docs dataset")
        return dataset(source, *a, **k)

    monkeypatch.setattr(ds, "dataset", no_docs_dataset)
    service = HotSearchService(idx2)
    assert service.search(QUERIES[0], top_k=5) == want
    assert 0 < service.searcher.docs_rowgroups_read <= 5
    before = service.searcher.docs_rowgroups_read
    assert service.search(QUERIES[0], top_k=5) == want
    assert service.searcher.docs_rowgroups_read == before


def _posting_rows(index_dir):
    import pyarrow.parquet as pq
    return pq.read_table(f"{index_dir}/postings_compressed",
                         columns=["term", "n"]).to_pylist()


@pytest.fixture(scope="module")
def multiblock_index_dir(spark, tmp_path_factory):
    """An index whose head terms' posting rows span several codec
    blocks: 300 indexable pages in two shards."""
    pages = []
    for p in corpus.generate_pages(1200, seed=SEED):
        d = doc_from_page(p["url"], p["html"].decode())
        if textlib.index_filter(d.url, textlib.is_relevant(
                d.url, d.language, d.single_tokens), d.single_tokens):
            pages.append(p)
    out = str(tmp_path_factory.mktemp("hot_multiblock") / "idx")
    df = spark.createDataFrame(pages[:300], corpus.PAGES_SCHEMA)
    build_persistent_index(spark, df.repartition(2).drop("text", "lang"),
                           out, n_shards=2, verbose=False)
    return out


def test_hot_matches_wand_on_multiblock_lists(spark, multiblock_index_dir):
    """Hot answers equal ``run_wand``'s, rank for rank, when query terms'
    posting rows hold more than one codec block."""
    rows = _posting_rows(multiblock_index_dir)
    big = sorted({r["term"] for r in rows if r["n"] > codec.BLOCK
                  and " " not in r["term"]})
    assert len(big) >= 2, "fixture has no multi-block posting row"
    queries = [big[0], f"{big[0]} {big[1]}", f"{big[-1]} castle museum"]
    hot = HotSearcher(multiblock_index_dir)
    idx = load_index(spark, multiblock_index_dir)
    for q in queries:
        got = hot.search(q, top_k=10)
        want = wand.run_wand(spark, [("q", q)], idx["postings_compressed"],
                             idx["doc_dim"], k=10).collect()
        assert [d for d, _ in got] == [r["doc_id"] for r in want], q
        for (_, gs), r in zip(got, want):
            assert gs == pytest.approx(r["score"], rel=1e-9, abs=1e-12), q


def test_bucket_cache_evicts_least_recently_used(index_dir, monkeypatch):
    monkeypatch.setattr(hotmod, "MAX_CACHED_BUCKETS", 2)
    hot = HotSearcher(index_dir)
    by_bucket = {}
    for r in _posting_rows(index_dir):
        if " " not in r["term"]:
            by_bucket.setdefault(
                hashing.bucket_of(r["term"], hot.n_buckets), r["term"])
    (ba, a), (bb, b), (bc, c) = sorted(by_bucket.items())[:3]
    for term in (a, b, a, c):  # the repeat of a makes b the oldest
        assert hot.search(term, top_k=3)
    assert list(hot._buckets) == [ba, bc]
