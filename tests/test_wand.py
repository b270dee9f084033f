"""Block-max WAND: rank-identity vs naive union-sum (SURVEY.md §4.3)."""

import numpy as np
import pytest

from modern_search_engines_spark import corpus
from modern_search_engines_spark.functions import codec
from modern_search_engines_spark.operators import indexing, postings, query, wand
from modern_search_engines_spark.oracle import OracleEngine
from modern_search_engines_spark.oracle.engine import doc_from_page


def _naive_topk(lists, k):
    acc: dict[int, float] = {}
    for l in lists:
        for d, s in zip(l["ids"], l["scores"]):
            acc[int(d)] = acc.get(int(d), 0.0) + l["mult"] * float(s)
    return sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _mk_list(rng, n, mult):
    ids = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
    scores = rng.random(n) * 3
    return {"ids": ids, "scores": scores, "mult": mult,
            "block_max": np.maximum.reduceat(
                scores, np.arange(0, n, codec.BLOCK))}


@pytest.mark.parametrize("seed", range(8))
def test_wand_equals_naive_random(seed):
    rng = np.random.default_rng(seed)
    lists = [_mk_list(rng, int(rng.integers(1, 2000)),
                      float(rng.random() * 2 + 0.1))
             for _ in range(int(rng.integers(1, 6)))]
    for k in (1, 5, 10, 100):
        got = wand.wand_topk(lists, k)
        expected = _naive_topk(lists, k)
        assert [d for d, _ in got] == [d for d, _ in expected], (seed, k)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-12)


def test_wand_with_score_ties():
    # all-equal scores stress the (score desc, doc asc) tie-break
    ids = np.arange(50, dtype=np.int64)
    l1 = {"ids": ids, "scores": np.ones(50), "mult": 1.0,
          "block_max": np.array([1.0])}
    l2 = {"ids": ids[::2].copy(), "scores": np.ones(25), "mult": 1.0,
          "block_max": np.array([1.0])}
    got = wand.wand_topk([l1, l2], 10)
    expected = _naive_topk([l1, l2], 10)
    assert got == expected
    assert [d for d, _ in got] == [0, 2, 4, 6, 8, 10, 12, 14, 16, 18]


def test_wand_empty_and_k_larger_than_union():
    assert wand.wand_topk([], 5) == []
    l = _mk_list(np.random.default_rng(1), 7, 1.0)
    got = wand.wand_topk([l], 100)
    assert len(got) == 7


def test_lazy_cursor_matches_full_decode():
    """Cursor navigation over compressed blobs is value-identical to a
    full decompress, and a full sequential walk decodes every block."""
    rng = np.random.default_rng(5)
    n = 1000
    ids = np.sort(rng.choice(100_000, size=n, replace=False)).astype(
        np.int64)
    scores = rng.random(n) * 7
    blobs = codec.compress(ids, scores)
    cur = wand.PostingCursor.from_blobs(blobs, mult=1.0)
    walked = []
    while not cur.exhausted():
        walked.append((cur.cur_id(), cur.cur_score()))
        cur.advance()
    assert [d for d, _ in walked] == ids.tolist()
    assert np.allclose([s for _, s in walked], scores)
    assert cur.decoded_blocks == cur.total_blocks


def test_pruning_heavy_query_skips_block_decodes():
    """Verdict item: block-max machinery must save real decode work.

    A short dominant list clustered at low doc ids fills the top-k with
    scores no long-tail doc can beat; after that region the long list's
    upper bound is below the threshold, WAND terminates, and the long
    list's remaining blocks are never varint-decoded."""
    rng = np.random.default_rng(2)
    n_long = 256 * codec.BLOCK
    ids_long = np.arange(n_long, dtype=np.int64)
    scores_long = rng.random(n_long) * 1e-6
    ids_dom = np.sort(rng.choice(1000, size=200, replace=False)).astype(
        np.int64)
    scores_dom = rng.random(200) + 100.0

    c_long = wand.PostingCursor.from_blobs(
        codec.compress(ids_long, scores_long), mult=1.0)
    c_dom = wand.PostingCursor.from_blobs(
        codec.compress(ids_dom, scores_dom), mult=1.0)
    got = wand.wand_topk([c_long, c_dom], 10)

    exp = _naive_topk(
        [{"ids": ids_long, "scores": scores_long, "mult": 1.0},
         {"ids": ids_dom, "scores": scores_dom, "mult": 1.0}], 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-12)

    # long list spans 256 blocks but only the dominant region (< 1000
    # ids ≈ 8 blocks) is ever decoded
    assert c_long.decoded_blocks < c_long.total_blocks // 8, (
        c_long.decoded_blocks, c_long.total_blocks)


def test_wand_end_to_end_rank_identical(spark):
    """Full pipeline: compressed postings + distributed WAND vs oracle."""
    n_pages, seed = 50, 11
    pages_rows = corpus.generate_pages(n_pages, seed=seed)
    oracle = OracleEngine()
    oracle.build([doc_from_page(p["url"], p["html"].decode())
                  for p in pages_rows])

    df = corpus.pages_df(spark, n_pages, seed=seed,
                         num_partitions=4).drop("text", "lang")
    idx = indexing.build_index(df, n_buckets=64)
    bm25 = idx["bm25_postings"].cache()
    comp = postings.build_compressed_postings(bm25, n_salts=4, n_shards=2,
                                              n_buckets=64)
    dim = postings.doc_dim(bm25)

    queries = [("q1", "castle museum"), ("q2", "university lecture"),
               ("q3", "food river hotel")]
    res = wand.run_wand(spark, queries, comp, dim, k=10).collect()
    got: dict[str, list] = {}
    for r in res:
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in queries:
        expected = oracle.retrieve(qtext, 10)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expected], (qid, qtext)
        for (gd, gs), (ed, es) in zip(g, expected):
            assert gs == pytest.approx(es, rel=1e-9)
    bm25.unpersist()


def test_compressed_postings_roundtrip_spark(spark):
    df = corpus.pages_df(spark, 30, seed=3, num_partitions=2
                         ).drop("text", "lang")
    idx = indexing.build_index(df, n_buckets=64)
    bm25 = idx["bm25_postings"].cache()
    comp = postings.build_compressed_postings(bm25, n_salts=4, n_shards=1,
                                              n_buckets=64)
    # every (term, doc) pair must survive compression exactly
    raw = {(r["term"], r["doc_id"]): r["score"] for r in bm25.collect()}
    dim = {r["doc_idx"]: r["doc_id"]
           for r in postings.doc_dim(bm25).collect()}
    got = {}
    for r in comp.collect():
        ids, scores = codec.decompress({
            "n": r["n"], "ids_blob": r["ids_blob"],
            "scores_blob": r["scores_blob"],
            "block_first": r["block_first"], "block_max": r["block_max"],
            "block_off": r["block_off"]})
        assert (np.diff(ids) > 0).all()  # strictly sorted
        for d, s in zip(ids, scores):
            got[(r["term"], dim[int(d)])] = float(s)
    assert set(got) == set(raw)
    for key, s in raw.items():
        assert got[key] == pytest.approx(s, rel=0, abs=0)  # bit-exact
    bm25.unpersist()
