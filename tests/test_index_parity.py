"""Spark engine vs single-node oracle parity (SURVEY.md §5.4/§5.5,
BASELINE.md "BM25 rank parity" / "Extraction parity").

One shared synthetic corpus; the oracle builds its in-memory index, Spark
builds the distributed one; tf/df/avgdl must match exactly, extraction
byte-identically, BM25 top-k rank-identically with scores to rtol 1e-9.
"""

import math

import pytest

from modern_search_engines_spark import corpus
from modern_search_engines_spark.operators import indexing, query
from modern_search_engines_spark.oracle import OracleEngine
from modern_search_engines_spark.oracle.engine import doc_from_page

N_PAGES = 60
SEED = 42

QUERIES = [
    ("q1", "castle museum"),
    ("q2", "hotels in tuebingen"),
    ("q3", "university research lecture"),
    ("q4", "tübingen"),               # variant-removal fallback
    ("q5", "the of and"),             # stopword-only fallback
    ("q6", "food restaurant river"),  # synonym expansion
    ("q7", "xylophone zebra"),        # absent terms
]


@pytest.fixture(scope="module")
def pages():
    return corpus.generate_pages(N_PAGES, seed=SEED, n_pdf=2, n_oversize=0)


@pytest.fixture(scope="module")
def oracle(pages):
    eng = OracleEngine()
    docs = [doc_from_page(p["url"], p["html"].decode("utf-8"))
            for p in pages if p["html"][:4] != b"%PDF"
            and len(p["html"]) <= indexing.MAX_HTML_CHARS]
    eng.build(docs)
    return eng


@pytest.fixture(scope="module")
def spark_index(spark, pages):
    df = corpus.pages_df(spark, N_PAGES, seed=SEED, n_pdf=2,
                         num_partitions=4).drop("text", "lang")
    idx = indexing.build_index(df, n_buckets=64)
    # cache the shared upstream stages once for the module's assertions
    idx["tf"] = idx["tf"].cache()
    idx["bm25_postings"] = idx["bm25_postings"].cache()
    return idx


def test_extraction_byte_identical(spark, pages, oracle):
    """Driver invariant: UDF-extracted text byte-identical per url."""
    from modern_search_engines_spark.corpus import pages_df
    df = pages_df(spark, N_PAGES, seed=SEED, n_pdf=2,
                  num_partitions=4).drop("text", "lang")
    got = {
        r["url"]: (r["text"], r["language"])
        for r in indexing.extract_pages(df)
        .select("url", "text", "language").collect()
    }
    expected = {
        p["url"]: (p["text"], p["lang"]) for p in pages
        if p["html"][:4] != b"%PDF"
    }
    assert set(got) == set(expected)
    for url, (text, lang) in expected.items():
        assert got[url][0].encode() == text.encode(), url
        assert got[url][1] == lang, url


def test_corpus_stats_match(spark_index, oracle):
    stats = spark_index["stats"]
    assert stats["N"] == oracle.total_documents
    assert stats["avgdl"] == pytest.approx(oracle.avg_doc_length, rel=1e-12)
    if oracle.avg_doc_date is not None:
        assert stats["avg_date_ts"] == pytest.approx(
            oracle.avg_doc_date.timestamp(), abs=1e-3)


def test_tf_exact(spark_index, oracle):
    got = {(r["doc_id"], r["term"]): r["tf"]
           for r in spark_index["tf"].collect()}
    expected = {(d, t): c for d, terms in oracle.tf.items()
                for t, c in terms.items()}
    assert got == expected


def test_df_idf_exact(spark_index, oracle):
    rows = spark_index["term_stats"].collect()
    got_df = {r["term"]: r["df"] for r in rows}
    assert got_df == oracle.df
    for r in rows:
        assert r["idf"] == pytest.approx(oracle.idf[r["term"]], rel=1e-12)


def test_bm25_partials_match(spark_index, oracle):
    got = {(r["doc_id"], r["term"]): r["score"]
           for r in spark_index["bm25_postings"].collect()}
    expected = {(d, t): s for d, terms in oracle.bm25_doc_term.items()
                for t, s in terms.items()}
    assert set(got) == set(expected)
    for key, s in expected.items():
        assert got[key] == pytest.approx(s, rel=1e-9), key


def test_bm25_topk_rank_identical(spark, spark_index, oracle):
    res = query.run_naive_bm25(spark, QUERIES, spark_index, k=10).collect()
    got: dict[str, list] = {}
    for r in res:
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in QUERIES:
        expected = oracle.retrieve(qtext, 10, method="bm25")
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expected], (qid, qtext)
        for (gd, gs), (ed, es) in zip(g, expected):
            assert gs == pytest.approx(es, rel=1e-9), (qid, gd)


def test_tfidf_topk_rank_identical(spark, spark_index, oracle):
    res = query.run_batch(spark, QUERIES, spark_index, k=10,
                          method="tfidf").collect()
    got: dict[str, list] = {}
    for r in res:
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in QUERIES:
        expected = oracle.retrieve(qtext, 10, method="tfidf")
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expected], (qid, qtext)
        for (gd, gs), (ed, es) in zip(g, expected):
            assert gs == pytest.approx(es, rel=1e-9), (qid, gd)


def test_run_file_format(spark, spark_index, tmp_path):
    out = str(tmp_path / "run")
    res = query.run_naive_bm25(spark, QUERIES[:2], spark_index, k=5)
    query.write_run_file(res, spark_index["docs"], out)
    import glob
    files = glob.glob(out + "/part-*.csv")
    assert files
    lines = open(files[0]).read().strip().splitlines()
    assert lines, "run file empty"
    first = lines[0].split("\t")
    assert len(first) == 4 and first[1] == "1"
