"""HTTP binding (plans/http_api.py): drive the reference's exact
request/response shapes (SearchEngineServer/api/views.py:34-88) over a
real socket against a built index — request bodies, status codes, and
error envelopes all match the Django handlers."""

import io
import json
import logging
import threading
import urllib.error
import urllib.request

import pytest

from modern_search_engines_spark import corpus
from modern_search_engines_spark.plans.build import (
    build_persistent_index, load_index,
)
from modern_search_engines_spark.plans.http_api import (
    MAX_BODY_BYTES, MAX_TOP_K, make_wsgi_app, serve,
)
from modern_search_engines_spark.plans.serve import SearchService

N, SEED = 50, 13


@pytest.fixture(scope="module")
def idx_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("http") / "idx")
    pages = corpus.pages_df(spark, N, seed=SEED,
                            num_partitions=2).drop("text", "lang")
    build_persistent_index(spark, pages, out, verbose=False,
                           positional=True, anchor=True)
    return out


@pytest.fixture(scope="module")
def base_url(spark, idx_dir):
    server = serve(SearchService(spark, idx_dir), port=0)  # ephemeral
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()
    server.server_close()


def _post(url: str, payload, raw: bytes | None = None):
    body = raw if raw is not None else json.dumps(payload).encode()
    req = urllib.request.Request(url, data=body, method="POST")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def test_search_bm25_response_shape(base_url, spark, idx_dir):
    status, docs = _post(f"{base_url}/search",
                         {"query": "castle museum", "top_k": 5})
    assert status == 200 and isinstance(docs, list) and 0 < len(docs) <= 5
    # views.py deletes raw_text before responding; scores sorted desc
    assert set(docs[0]) == {"url", "url_hash", "title", "description",
                            "icon_url", "score"}
    scores = [d["score"] for d in docs]
    assert scores == sorted(scores, reverse=True)

    # the endpoint's hot-tier ranking is the distributed WAND top-k
    from modern_search_engines_spark.operators import wand
    idx = load_index(spark, idx_dir)
    ranked = wand.run_wand(spark, [("q", "castle museum")],
                           idx["postings_compressed"], idx["doc_dim"], k=5,
                           n_buckets=idx["stats"]["n_buckets"])
    want = [(r["doc_id"], r["score"]) for r in
            ranked.orderBy("rank").collect()]
    assert [d["url_hash"] for d in docs] == [d for d, _ in want]
    for d, (_, score) in zip(docs, want):
        assert d["score"] == pytest.approx(score, rel=1e-9)


def test_search_tfidf_and_service_parity(base_url, spark):
    status, docs = _post(f"{base_url}/search", {
        "query": "castle museum", "top_k": 5,
        "retrieval_method": "tfidf"})
    assert status == 200 and docs
    assert all(d["score"] >= d2["score"]
               for d, d2 in zip(docs, docs[1:]))


def test_search_bm25f_extension_method(base_url, spark, idx_dir):
    """retrieval_method=bm25f (extension value): field-weighted scoring
    over the anchor-built index, HTTP answer == direct service call."""
    status, docs = _post(f"{base_url}/search", {
        "query": "castle museum", "top_k": 5,
        "retrieval_method": "bm25f"})
    assert status == 200 and isinstance(docs, list) and docs
    assert set(docs[0]) == {"url", "url_hash", "title", "description",
                            "icon_url", "score"}
    scores = [d["score"] for d in docs]
    assert scores == sorted(scores, reverse=True)
    direct = SearchService(spark, idx_dir).search(
        "castle museum", top_k=5, retrieval_method="bm25f")
    assert [(d["url_hash"], d["score"]) for d in docs] == \
        [(d["url_hash"], d["score"]) for d in direct]


def test_search_diversity_key_triggers_rerank(base_url):
    status, docs = _post(f"{base_url}/search", {
        "query": "castle museum university", "top_k": 6,
        "diversity": 0.9})
    assert status == 200 and docs
    assert all("topics" in d for d in docs)  # MMR path attaches labels


def test_search_unsupported_method_is_400(base_url):
    status, err = _post(f"{base_url}/search",
                        {"query": "x", "retrieval_method": "bleu"})
    assert (status, err) == (400, {"error":
                                   "Retrieval method not supported"})


def test_search_invalid_json_is_400(base_url):
    status, err = _post(f"{base_url}/search", None, raw=b"{not json")
    assert (status, err) == (400, {"error": "Invalid JSON"})


def test_search_get_is_405(base_url):
    req = urllib.request.Request(f"{base_url}/search", method="GET")
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 405
    assert json.loads(ei.value.read().decode()) == {
        "error": "Invalid request method"}


def test_summarize_roundtrip_and_404(base_url):
    _, docs = _post(f"{base_url}/search",
                    {"query": "castle museum", "top_k": 3})
    status, out = _post(f"{base_url}/summarize",
                        {"url_hash": docs[0]["url_hash"]})
    assert status == 200 and isinstance(out["summary"], str)
    for payload in ({}, {"url_hash": "deadbeef"}):
        status, err = _post(f"{base_url}/summarize", payload)
        assert (status, err) == (404, {"error": "Document not found"})


def test_unknown_path_is_404(base_url):
    status, err = _post(f"{base_url}/nope", {})
    assert status == 404


def test_wsgi_app_without_socket(caplog):
    """The app is plain WSGI — usable under any server. Smoke it with a
    stub service and a hand-built environ (no Spark, no socket)."""

    class Stub:
        def search(self, query, top_k=20, retrieval_method="bm25",
                   diversity=None):
            return [{"url_hash": "h", "score": 1.0, "q": query,
                     "k": top_k, "div": diversity}]

        def summarize(self, url_hash):
            return None

    app = make_wsgi_app(Stub())
    body = json.dumps({"query": "hi", "top_k": 3}).encode()
    environ = {"PATH_INFO": "/search", "REQUEST_METHOD": "POST",
               "CONTENT_LENGTH": str(len(body)),
               "wsgi.input": io.BytesIO(body)}
    captured = {}
    out = b"".join(app(environ, lambda s, h: captured.update(status=s)))
    assert captured["status"] == "200 OK"
    got = json.loads(out.decode())
    assert got == [{"url_hash": "h", "score": 1.0, "q": "hi", "k": 3,
                    "div": None}]

    # an unexpected service error is a 500 with the usual envelope, and
    # its traceback reaches the module logger instead of vanishing
    class Broken(Stub):
        def search(self, *a, **k):
            raise RuntimeError("index unreadable")

    with caplog.at_level(logging.ERROR,
                         logger="modern_search_engines_spark.plans.http_api"):
        status, err = _wsgi_post(make_wsgi_app(Broken()), "/search",
                                 {"query": "hi"})
    assert (status, err) == (500, {"error": "index unreadable"})
    assert any(r.exc_info and "index unreadable" in str(r.exc_info[1])
               for r in caplog.records)


class _CappedInput(io.BytesIO):
    """A request body that fails any read past the app's body cap."""

    def read(self, n=-1):
        assert 0 <= n <= MAX_BODY_BYTES, f"read({n}) past the body cap"
        return super().read(n)


# larger than the body cap: 413 before any of it is read
_OVERSIZED = "x" * MAX_BODY_BYTES


def _wsgi_post(app, path, payload):
    """POST ``payload`` (JSON-encoded, or sent as is when bytes)."""
    body = payload if isinstance(payload, bytes) else \
        json.dumps(payload).encode()
    environ = {"PATH_INFO": path, "REQUEST_METHOD": "POST",
               "CONTENT_LENGTH": str(len(body)),
               "wsgi.input": _CappedInput(body)}
    captured = {}
    out = b"".join(app(environ, lambda s, h: captured.update(status=s)))
    return int(captured["status"][:3]), json.loads(out.decode())


def test_hot_adapter_serves_same_ranking_without_spark(base_url, idx_dir):
    """HotSearchService (no Spark session) behind the SAME WSGI app:
    /search answers are url_hash/score-identical to the SearchService
    endpoint (both rank bm25 with the hot tier, which
    test_search_bm25_response_shape holds to WAND), /summarize
    round-trips, and tfidf/diversity and malformed bodies are clean
    400s, not 500s or unbounded work."""
    from modern_search_engines_spark.plans.hot import HotSearchService
    app = make_wsgi_app(HotSearchService(idx_dir))

    status, hot_docs = _wsgi_post(app, "/search", {
        "query": "castle museum", "top_k": 5})
    assert status == 200 and hot_docs
    assert set(hot_docs[0]) == {"url", "url_hash", "title",
                                "description", "icon_url", "score"}
    _, spark_docs = _post(f"{base_url}/search",
                          {"query": "castle museum", "top_k": 5})
    assert [d["url_hash"] for d in hot_docs] == \
        [d["url_hash"] for d in spark_docs]
    for h, s in zip(hot_docs, spark_docs):
        assert h["score"] == pytest.approx(s["score"], rel=1e-9)
        assert h["url"] == s["url"] and h["title"] == s["title"]

    status, out = _wsgi_post(app, "/summarize",
                             {"url_hash": hot_docs[0]["url_hash"]})
    assert status == 200 and isinstance(out["summary"], str)
    assert _wsgi_post(app, "/summarize", {"url_hash": "nope"})[0] == 404

    for payload in ({"query": "x", "retrieval_method": "tfidf"},
                    {"query": "x", "diversity": 0.5}):
        status, err = _wsgi_post(app, "/search", payload)
        assert status == 400 and "error" in err, payload

    # malformed bodies: a null/negative/boolean/over-cap top_k (a
    # negative one would slice ranks from the end), a non-string query,
    # a non-numeric diversity, a JSON array instead of an object, a
    # body that is not UTF-8, and a body over the size cap (413,
    # unread); a query with no terms (empty, whitespace, punctuation)
    # is well-formed and matches nothing
    for payload, want in (({"query": "castle", "top_k": None}, 400),
                          ({"query": "castle", "top_k": -2}, 400),
                          ({"query": "castle", "top_k": 0}, 400),
                          ({"query": "castle", "top_k": True}, 400),
                          ({"query": "castle", "top_k": "5"}, 400),
                          ({"query": "castle", "top_k": MAX_TOP_K + 1},
                           400),
                          ({"query": 123}, 400),
                          ({"query": "castle", "diversity": None}, 400),
                          (["castle"], 400),
                          (b'{"query": "caf\xe9"}', 400),
                          ({"query": _OVERSIZED}, 413),
                          ({"query": ""}, 200),
                          ({"query": " \t\n "}, 200),
                          ({"query": "?! ... ;-)"}, 200)):
        status, out = _wsgi_post(app, "/search", payload)
        assert status == want, payload
        assert (out == []) if want == 200 else ("error" in out), payload
    for url_hash in (123, ["h"]):  # a non-string key names no document
        assert _wsgi_post(app, "/summarize", {"url_hash": url_hash}) == \
            (404, {"error": "Document not found"})

    # a negative Content-Length reads no body instead of read(-1), which
    # blocks on a socket until the client hangs up
    class NoUnboundedRead:
        def read(self, n=-1):
            assert n >= 0, "unbounded read"
            return b""

    captured = {}
    out = b"".join(app({"PATH_INFO": "/search", "REQUEST_METHOD": "POST",
                        "CONTENT_LENGTH": "-1",
                        "wsgi.input": NoUnboundedRead()},
                       lambda st, h: captured.update(status=st)))
    assert captured["status"].startswith("400")
    assert json.loads(out.decode()) == {"error": "Invalid JSON"}

    # nothing matches (stop words only; terms absent from the index):
    # an empty result list, not a 500
    for query in ("the and of", "zzqqxx absent"):
        assert _wsgi_post(app, "/search", {"query": query}) == (200, []), \
            query


def test_phrase_endpoint(base_url, spark, idx_dir):
    """POST /phrase (extension): phrase occurrence ranking over the
    positional layer, parity with SearchService.phrase_search, 400 when
    the layer is absent or the service can't do phrases."""
    from pyspark.sql import functions as F
    from modern_search_engines_spark import textlib

    # derive a phrase that (a) actually occurs adjacently in the built
    # positional table and (b) re-tokenizes to itself (lemma-idempotent),
    # so the HTTP round-trip through textlib.tokenize is exact
    ptok = spark.read.parquet(f"{idx_dir}/positional_postings")
    pairs = (ptok.alias("a").join(
        ptok.alias("b"),
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.pos") == F.col("a.pos") + 1))
        .groupBy(F.col("a.term").alias("t0"), F.col("b.term").alias("t1"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n")).limit(20).collect())
    phrase = None
    for r in pairs:
        cand = f"{r['t0']} {r['t1']}"
        if textlib.tokenize(cand, 1) == [r["t0"], r["t1"]]:
            phrase = cand
            break
    assert phrase is not None, [tuple(r)[:2] for r in pairs]

    status, docs = _post(f"{base_url}/phrase",
                         {"phrase": phrase, "top_k": 5})
    assert status == 200 and isinstance(docs, list) and docs
    assert set(docs[0]) == {"url", "url_hash", "title", "description",
                            "icon_url", "score"}
    scores = [d["score"] for d in docs]
    assert scores == sorted(scores, reverse=True) and scores[0] >= 1

    svc = SearchService(spark, idx_dir)
    lib_docs = svc.phrase_search(phrase, top_k=5)
    assert [d["url_hash"] for d in docs] == \
        [d["url_hash"] for d in lib_docs]

    # empty phrase -> empty list, still 200
    status, docs = _post(f"{base_url}/phrase", {"phrase": ""})
    assert status == 200 and docs == []

    # index without the positional layer -> clean 400 (ValueError path)
    svc2 = SearchService(spark, idx_dir)
    svc2.idx = dict(svc2.idx)
    svc2.idx["positional_postings"] = None
    app = make_wsgi_app(svc2)
    status, err = _wsgi_post(app, "/phrase", {"phrase": phrase})
    assert status == 400 and "error" in err

    # malformed /phrase bodies -> 400 (413 when over the size cap)
    # before any Spark work
    for payload, want in (({"phrase": phrase, "top_k": -1}, 400),
                          ({"phrase": phrase, "top_k": None}, 400),
                          ({"phrase": phrase, "top_k": MAX_TOP_K + 1},
                           400),
                          ({"phrase": 7}, 400), ([phrase], 400),
                          ({"phrase": _OVERSIZED}, 413)):
        status, err = _wsgi_post(make_wsgi_app(svc), "/phrase", payload)
        assert status == want and "error" in err, payload

    # service without a phrase_search method (hot tier) -> clean 400
    class NoPhrase:
        pass
    status, err = _wsgi_post(make_wsgi_app(NoPhrase()), "/phrase",
                             {"phrase": phrase})
    assert status == 400 and "not supported" in err["error"].lower()
