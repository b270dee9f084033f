"""Serving path (plans/serve.py — the /search + /summarize analog):
result shape and ranks match the single-node oracle's retrieve(), and
bm25 + summarize are answered by the hot tier without a Spark job."""

import pytest

from modern_search_engines_spark import corpus
from modern_search_engines_spark.oracle import OracleEngine
from modern_search_engines_spark.oracle.engine import doc_from_page
from modern_search_engines_spark.plans.build import build_persistent_index
from modern_search_engines_spark.plans.serve import SearchService

N, SEED = 50, 13


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("serve") / "idx")
    pages = corpus.pages_df(spark, N, seed=SEED,
                            num_partitions=2).drop("text", "lang")
    build_persistent_index(spark, pages, out, verbose=False)
    return SearchService(spark, out)


@pytest.fixture(scope="module")
def oracle():
    eng = OracleEngine()
    eng.build([doc_from_page(p["url"], p["html"].decode())
               for p in corpus.generate_pages(N, seed=SEED)])
    return eng


def test_search_bm25_matches_oracle(service, oracle):
    docs = service.search("castle museum", top_k=10)
    expected = oracle.retrieve("castle museum", 10)
    assert [d["url_hash"] for d in docs] == [d for d, _ in expected]
    for d, (_, score) in zip(docs, expected):
        assert d["score"] == pytest.approx(score, rel=1e-9)
    assert set(docs[0]) == {"url", "url_hash", "title", "description",
                            "icon_url", "score"}


def test_search_tfidf_runs(service):
    docs = service.search("castle museum", top_k=5,
                          retrieval_method="tfidf")
    assert 0 < len(docs) <= 5
    assert all(docs[i]["score"] >= docs[i + 1]["score"]
               for i in range(len(docs) - 1))


def test_search_unknown_method(service):
    with pytest.raises(ValueError):
        service.search("castle", retrieval_method="bleu")


def test_search_bm25f_requires_anchor_index(service):
    # the fixture index is built WITHOUT anchor=True: the bm25f
    # extension method must refuse loudly, not silently score body-only
    with pytest.raises(ValueError, match="anchor=True"):
        service.search("castle museum", retrieval_method="bm25f")


def test_phrase_search_requires_positional_index(service):
    # the fixture index is built WITHOUT positional=True
    with pytest.raises(ValueError, match="positional=True"):
        service.phrase_search("castle museum")


def test_run_queries_refuses_missing_layers(spark, service, tmp_path,
                                            monkeypatch):
    """The batch job exits non-zero, naming the build flag, for a method
    whose layer the (anchor-less, position-less) index lacks."""
    import importlib.util
    import os

    import pyspark.sql

    from modern_search_engines_spark import session

    # the job runs in this process on the shared session: keep its
    # closing spark.stop() from ending the session for later tests
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(pyspark.sql.SparkSession, "stop", lambda self: None)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs", "run_queries.py")
    spec = importlib.util.spec_from_file_location("jobs_run_queries", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    qpath = tmp_path / "queries.tsv"
    qpath.write_text("q1\tcastle museum\n")
    for method, flag in (("bm25f", "--anchor"), ("phrase", "--positional")):
        with pytest.raises(SystemExit) as ei:
            job.main(["--index", service.index_dir, "--queries", str(qpath),
                      "--out", str(tmp_path / method), "--method", method])
        assert ei.value.code not in (0, None), method
        assert flag in str(ei.value.code), ei.value.code


def test_search_with_diversity_reranks(service):
    plain = service.search("castle museum university", top_k=8)
    diverse = service.search("castle museum university", top_k=8,
                             diversity=0.9)
    assert len(diverse) == len(plain)
    assert {d["url_hash"] for d in diverse} == \
        {d["url_hash"] for d in plain}
    assert all("topics" in d for d in diverse)  # labels attached
    assert diverse[0]["url_hash"] == plain[0]["url_hash"]  # rank-1 seeds


def test_batch_summaries_length_gate(service):
    docs = service.search("castle museum", top_k=8)
    out = service.summarize_results(docs)
    assert out is docs  # mutates in place, like the reference
    # 49/50 corpus texts exceed the 300-char gate, so summaries must
    # actually appear on this result set
    assert any("summary" in d for d in out)
    for d in out:
        if "summary" in d:
            assert isinstance(d["summary"], str) and d["summary"]


def test_spell_corrected_search_recovers_typo_by_default(service):
    good = service.search("castle", top_k=5)
    typo_default = service.search("casle", top_k=5)  # correction is ON
    typo_off = service.search("casle", top_k=5, spell_correct=False)
    # opt-out: the raw typo matches no posting list at all
    assert good and typo_off == []
    # default: the misspelled query reproduces the clean query exactly
    # (ids + scores) — the reference's always-on corrector, mirrored
    assert [(d["url_hash"], d["score"]) for d in typo_default] == \
        [(d["url_hash"], d["score"]) for d in good]
    assert service.correct_query("casle") == "castle"


def test_summarize_known_and_unknown(service, oracle):
    some_id = next(iter(oracle.tf))
    s = service.summarize(some_id)
    assert isinstance(s, str) and s
    assert service.summarize("0" * 32) is None


def test_bm25_and_summarize_run_no_spark_job(spark, service):
    """The one front door answers bm25 and /summarize from the hot tier:
    no Spark job runs for either (tfidf/bm25f/phrase/diversity still do)."""
    sc = spark.sparkContext
    group = "serve-front-door"
    sc.setJobGroup(group, "bm25 search + summarize")
    try:
        docs = service.search("castle museum", top_k=5,
                              spell_correct=False)
        summary = service.summarize(docs[0]["url_hash"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert docs and isinstance(summary, str) and summary
    assert sc.statusTracker().getJobIdsForGroup(group) == []
