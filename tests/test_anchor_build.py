"""End-to-end tests for the production anchor-text layer: pages →
anchor_field/field_norms stages (plans/build.py anchor=True) → BM25F
batch retrieval (operators/bm25f.run_bm25f_batch), all verified
against independent pure-python recomputation over the same pages."""
import hashlib
import math
import os
import re
import shutil
import tempfile

import pytest

from modern_search_engines_spark import corpus, htmlx, textlib
from modern_search_engines_spark.operators import bm25f, query as qmod
from modern_search_engines_spark.plans.build import build_persistent_index

N_PAGES = 300
NGRAM_MAX = 3
K1, B = 1.5, 0.75


def test_extract_anchor_pairs_planted():
    html = ('<html><body>'
            '<a href="http://x.example/a.html">First <b>Link</b></a>'
            '<a href="/rel.html">rel text</a>'
            '<a href="http://x.example/a.html">First Link</a>'
            '<a>no href</a>'
            '</body></html>')
    pairs = htmlx.extract_anchor_pairs("http://base.example/page.html",
                                       html)
    # duplicates KEPT (two links to one target = two anchor votes),
    # relative href joined to the page's base, nested tags flattened
    assert pairs == [
        ("http://x.example/a.html", "First Link"),
        ("http://base.example/rel.html", "rel text"),
        ("http://x.example/a.html", "First Link"),
    ]


def _expected_anchor_counts(rows, indexed_ids):
    """Pure-python twin of build_anchor_field_from_extracted over
    collected pages."""
    counts: dict[tuple[str, str], int] = {}
    lens: dict[str, int] = {}
    for url, html in rows:
        text = html.decode("utf-8", errors="replace")
        for href, anchor in htmlx.extract_anchor_pairs(url, text):
            if href == url:
                continue
            tid = hashlib.md5(href.encode("utf-8")).hexdigest()
            if tid not in indexed_ids:
                continue
            for term in textlib.tokenize(anchor, NGRAM_MAX):
                counts[(tid, term)] = counts.get((tid, term), 0) + 1
                lens[tid] = lens.get(tid, 0) + 1
    return counts, lens


def test_extract_page_anchor_pairs_consistent_with_standalone():
    # extract_page collects anchor_pairs in its single parse (the
    # build's fused path); the standalone helper must never drift —
    # and links must stay exactly the sorted href set of the pairs
    html = ('<html><body><a href="/x.html">go <b>here</b></a>'
            '<a href="http://c.example/y.html">y</a>'
            '<a href="/x.html">go here</a><a>none</a></body></html>')
    url = "http://b.example/p.html"
    ex = htmlx.extract_page(url, html)
    assert ex["anchor_pairs"] == htmlx.extract_anchor_pairs(url, html)
    assert ex["links"] == sorted({h for h, _ in ex["anchor_pairs"]})


def test_empty_partitioned_stage_roundtrip(spark, tmp_path):
    # a corpus with no in-corpus links commits a ZERO-ROW bucket-
    # partitioned anchor stage: no data files on disk, only the
    # manifest — write, read-back, and resume must all survive it
    from pyspark.sql import functions as F

    from modern_search_engines_spark.sources.tables import StageWriter

    sw = StageWriter(spark, str(tmp_path), verbose=False)
    empty = (spark.range(1)
             .select(F.col("id").alias("doc_id"),
                     F.lit("t").alias("term"),
                     F.col("id").alias("bucket"))
             .filter(F.lit(False)))
    out = sw.write_stage(empty, "af", partition_by=["bucket"])
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "term", "bucket"}
    resumed = sw.write_stage(empty, "af", partition_by=["bucket"])
    assert resumed.count() == 0
    assert set(resumed.columns) == {"doc_id", "term", "bucket"}

    # BM25F over a zero-row anchor field and zero-row field_norms has no
    # average doc length: a descriptive ValueError (HTTP 400 on /search),
    # never float(None)
    idx = {"stats": {"n_buckets": 4},
           "anchor_field": resumed.withColumn("anchor_tf", F.lit(1)),
           "field_norms": spark.createDataFrame(
               [], "doc_id string, doc_len long, anchor_len long"),
           "tf": spark.createDataFrame(
               [], "doc_id string, term string, tf long"),
           "term_stats": spark.createDataFrame(
               [], "term string, df long, idf double")}
    with pytest.raises(ValueError, match="field_norms"):
        bm25f.run_bm25f_batch(spark, [("q", "castle")], idx)


@pytest.fixture(scope="module")
def anchor_index(spark):
    out = tempfile.mkdtemp(prefix="anchor_idx_")
    pages = corpus.pages_df(spark, N_PAGES, seed=42)
    idx = build_persistent_index(spark, pages, out, ngram_max=NGRAM_MAX,
                                 anchor=True, verbose=False)
    yield idx, pages
    shutil.rmtree(out, ignore_errors=True)


def test_anchor_field_matches_python_twin(spark, anchor_index):
    idx, pages = anchor_index
    indexed_ids = {r.doc_id for r in idx["docs"].select("doc_id").collect()}
    rows = [(r.url, bytes(r.html))
            for r in pages.select("url", "html").collect()]
    exp_counts, exp_lens = _expected_anchor_counts(rows, indexed_ids)
    assert exp_counts, "planted corpus produced no in-corpus links"

    got = {(r.doc_id, r.term): r.anchor_tf
           for r in idx["anchor_field"].collect()}
    assert got == exp_counts

    norms = {r.doc_id: (r.doc_len, r.anchor_len)
             for r in idx["field_norms"].collect()}
    # every indexed doc has a norms row; anchor_len 0 without in-links
    assert set(norms) == indexed_ids
    for doc_id, (_, alen) in norms.items():
        assert alen == exp_lens.get(doc_id, 0)
    # body lengths agree with the tf stage (full-multiset, quirk A7)
    tf_lens: dict[str, int] = {}
    for r in idx["tf"].collect():
        tf_lens[r.doc_id] = tf_lens.get(r.doc_id, 0) + r.tf
    assert {d: n[0] for d, n in norms.items()} == tf_lens


def _bm25f_twin(idx, queries, k):
    """Pure-python BM25F top-k per qid from the committed tf,
    anchor_field and term_stats stages. Per-doc field lengths are
    summed here, over every doc either field holds, not read from the
    field_norms stage."""
    w_body, w_anchor = bm25f.W_BODY, bm25f.W_ANCHOR
    tf = {(r.doc_id, r.term): r.tf for r in idx["tf"].collect()}
    atf = {(r.doc_id, r.term): r.anchor_tf
           for r in idx["anchor_field"].collect()}
    body_len: dict[str, int] = {}
    anchor_len: dict[str, int] = {}
    for lens, field in ((body_len, tf), (anchor_len, atf)):
        for (d, _), n in field.items():
            lens[d] = lens.get(d, 0) + n
    norms = {d: w_body * body_len.get(d, 0) + w_anchor * anchor_len.get(d, 0)
             for d in body_len.keys() | anchor_len.keys()}
    avg_wdl = sum(norms.values()) / len(norms)
    idf = {r.term: r.idf for r in idx["term_stats"].collect()}

    out = {}
    for qid, qtext in queries:
        per_doc: dict[str, float] = {}
        for _, term, qtf, w in qmod.query_term_rows([("q", qtext)]):
            if term not in idf:
                continue
            docs = ({d for (d, t) in tf if t == term}
                    | {d for (d, t) in atf if t == term})
            for d in docs:
                wtf = (w_body * tf.get((d, term), 0)
                       + w_anchor * atf.get((d, term), 0))
                sat = (wtf * (K1 + 1)
                       / (wtf + K1 * (1 - B + B * norms[d] / avg_wdl)))
                per_doc[d] = per_doc.get(d, 0.0) + qtf * w * idf[term] * sat
        out[qid] = sorted(per_doc.items(),
                          key=lambda kv: (-kv[1], kv[0]))[:k]
    return out


def _assert_bm25f_matches_twin(spark, idx, queries, k):
    res = bm25f.run_bm25f_batch(spark, queries, idx, k=k)
    got = [(r.qid, r.rank, r.doc_id, r.score) for r in res.collect()]
    assert got, "bm25f returned no rows"
    twin = _bm25f_twin(idx, queries, k)
    for qid, _ in queries:
        mine = [(r, d, s) for (q, r, d, s) in got if q == qid]
        exp_order = twin[qid]
        assert [d for _, d, _ in mine] == [d for d, _ in exp_order]
        for (_, d, s), (_, es) in zip(mine, exp_order):
            assert s == pytest.approx(es, rel=1e-9)
        assert [r for r, _, _ in mine] == list(range(1, len(mine) + 1))
    return got


def test_run_bm25f_batch_matches_python_twin(spark, anchor_index):
    idx, _ = anchor_index
    _assert_bm25f_matches_twin(
        spark, idx, [("q1", "internal castle"), ("q2", "tübingen")], k=30)


def test_bm25f_scores_anchor_only_docs(spark, anchor_index):
    # plant an indexed doc whose in-link anchor terms are its only
    # terms (no body tf): field_norms must still give it a row
    # (doc_len 0), so BM25F keeps its anchor score instead of dropping
    # the doc at the norms join
    from pyspark.sql import functions as F

    from modern_search_engines_spark.operators import anchortext

    idx, _ = anchor_index
    planted = (idx["anchor_field"].where(F.col("term") == "internal")
               .orderBy("doc_id").first().doc_id)
    tf = idx["tf"].where(F.col("doc_id") != planted)
    norms = anchortext.build_field_norms(tf, idx["anchor_field"])
    assert [(r.doc_len, r.anchor_len > 0) for r in
            norms.where(F.col("doc_id") == planted).collect()] == [(0, True)]
    got = _assert_bm25f_matches_twin(
        spark, {**idx, "tf": tf, "field_norms": norms},
        [("q", "internal castle")], k=N_PAGES)
    assert planted in {d for _, _, d, _ in got}


def test_anchor_scoring_changes_ranking_vs_body_only(spark, anchor_index):
    # "internal" is the synthetic corpus' in-corpus anchor text: with
    # the anchor field active its targets must outscore a body-only
    # run somewhere (sanity that the field actually contributes)
    idx, _ = anchor_index
    anchored = {r.doc_id for r in idx["anchor_field"]
                .select("doc_id").distinct().collect()}
    assert anchored
    res = bm25f.run_bm25f_batch(spark, [("q", "internal")], idx, k=50)
    hit_docs = {r.doc_id for r in res.collect()}
    assert hit_docs & anchored, (
        "no anchor-field target retrieved for its own anchor term")


def test_bucket_dirs_hold_only_their_terms(anchor_index,
                                           check_bucket_layout):
    idx, _ = anchor_index
    for name in ("anchor_field", "postings_compressed"):
        check_bucket_layout(os.path.join(idx["writer"].base_dir, name),
                            idx["stats"]["n_buckets"])


def test_bm25f_anchor_scan_is_partition_pruned(spark, anchor_index):
    # the anchor_field scan of the batch plan carries the query terms'
    # bucket predicate as a PARTITION filter, not a post-scan filter
    idx, _ = anchor_index
    res = bm25f.run_bm25f_batch(spark, [("q", "internal castle")], idx)
    plan = res._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "anchor_field" in ln]
    assert scans, plan
    for ln in scans:
        filters = ln.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert re.search(r"bucket#\d+( IN \(| = )", filters), ln
