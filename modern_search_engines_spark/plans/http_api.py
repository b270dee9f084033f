"""HTTP binding for the serving path — the reference's Django endpoints
(``SearchEngineServer/api/views.py:34-88``, ``urls.py``) re-expressed
(NOT copied) as a dependency-free WSGI app over ``SearchService``.

Endpoint contract, matched to the reference handler by handler:

``POST /search``  body ``{"query", "top_k"=20, "retrieval_method"=
"bm25", "diversity"?}`` → JSON array of result dicts (url, url_hash,
title, description, icon_url, score[, topics]) — ``raw_text`` never
leaves the server (views.py:52-53 deletes it before responding).
``diversity`` triggers MMR reranking with relevance_importance =
1 − diversity over the full result list (views.py:55-57), keyed on
PRESENCE like the reference (``'diversity' in data``). Unsupported
method → 400 ``{"error": "Retrieval method not supported"}``; bad JSON
body → 400 ``{"error": "Invalid JSON"}``; any other verb → 405
``{"error": "Invalid request method"}`` (views.py:59-61). A body that is
not a JSON object, a non-string ``query``, a ``top_k`` that is not an
integer in [1, ``MAX_TOP_K``] or a ``diversity`` that is not a number →
400 before any work.

``POST /summarize``  body ``{"url_hash"}`` → ``{"summary": ...}``;
empty, non-string or unknown url_hash → 404 ``{"error": "Document not
found"}`` (views.py:66-88); bad JSON → 400; other verbs → 405.

``POST /phrase``  body ``{"phrase", "top_k"=20}`` → same result-dict
array, scored by phrase occurrence count — an EXTENSION endpoint (no
reference counterpart; its index is position-free). 400 when the
service doesn't support it or the index lacks the positional layer, and
on the same ``phrase``/``top_k`` checks as /search.

``retrieval_method: "bm25f"`` on /search is likewise an EXTENSION
value (body + in-link anchor-text fields): 400 when the index was
built without ``anchor=True`` or the service can't run it.

Work per request is bounded before any of it starts: a body declared
larger than ``MAX_BODY_BYTES`` gets 413 ``{"error": "Request body too
large"}`` without a byte of it being read, and ``top_k`` is capped at
``MAX_TOP_K`` (a search body is a few hundred bytes and a result page
tens of rows).

The service lives in the long-running server process exactly as the
reference keeps its unpickled index in the Django worker.
``SearchService`` answers bm25 and /summarize driver-side through the
hot tier and runs Spark jobs only for tfidf, bm25f, phrase and
diversity; ``plans.hot.HotSearchService`` serves the same app without a
Spark session at all — the app only needs ``search()`` and
``summarize()``. A service raising ValueError (bad request parameters,
e.g. the hot tier refusing tfidf) maps to 400; other exceptions map to
500 like Django's unhandled-exception path, and their tracebacks go to
this module's logger.
"""

from __future__ import annotations

import json
import logging
from collections.abc import Callable, Iterable

log = logging.getLogger(__name__)

MAX_BODY_BYTES = 64 << 10
MAX_TOP_K = 1000

_STATUS = {200: "200 OK", 400: "400 Bad Request", 404: "404 Not Found",
           405: "405 Method Not Allowed", 413: "413 Content Too Large",
           500: "500 Internal Server Error"}


def _json_response(start_response, status: int, payload) -> list[bytes]:
    body = json.dumps(payload).encode("utf-8")
    start_response(_STATUS[status], [
        ("Content-Type", "application/json"),
        ("Content-Length", str(len(body)))])
    return [body]


def _content_length(environ) -> int:
    try:
        return int(environ.get("CONTENT_LENGTH") or 0)
    except ValueError:
        return 0


def _read_json(environ, n: int) -> dict:
    # read(-1) would block on a socket until the client closes it
    raw = environ["wsgi.input"].read(n) if n > 0 else b""
    return json.loads(raw.decode("utf-8"))


def _text_and_top_k(data: dict, key: str) -> tuple[str, int]:
    """The ``key`` text and ``top_k`` of a /search or /phrase body;
    ValueError (→ 400) unless they are a string and an integer in
    [1, MAX_TOP_K] (a negative top_k would slice ranks from the end)."""
    text, top_k = data.get(key, ""), data.get("top_k", 20)
    if not isinstance(text, str):
        raise ValueError(f"{key} must be a string")
    if (isinstance(top_k, bool) or not isinstance(top_k, int)
            or not 1 <= top_k <= MAX_TOP_K):
        raise ValueError(f"top_k must be an integer in [1, {MAX_TOP_K}]")
    return text, top_k


def make_wsgi_app(service) -> Callable[[dict, Callable], Iterable[bytes]]:
    """WSGI app over anything with the ``SearchService`` surface
    (``search(query, top_k, retrieval_method, diversity)`` and
    ``summarize(url_hash)``)."""

    def handle_search(data: dict) -> tuple[int, object]:
        query, top_k = _text_and_top_k(data, "query")
        method = str(data.get("retrieval_method", "bm25")).lower()
        # bm25|tfidf = the reference's set (views.py:41-48); bm25f is an
        # EXTENSION value — a service without the anchor field (or the
        # hot tier) raises ValueError, which the app maps to 400
        if method not in ("bm25", "tfidf", "bm25f"):
            return 400, {"error": "Retrieval method not supported"}
        diversity = None
        if "diversity" in data:  # presence-keyed, like views.py:55
            try:
                diversity = float(data["diversity"])
            except TypeError:  # null, list, object
                raise ValueError("diversity must be a number") from None
        docs = service.search(query, top_k=top_k, retrieval_method=method,
                              diversity=diversity)
        return 200, docs

    def handle_summarize(data: dict) -> tuple[int, object]:
        url_hash = data.get("url_hash", "")
        if not url_hash or not isinstance(url_hash, str):  # no such key
            return 404, {"error": "Document not found"}
        summary = service.summarize(url_hash)
        if summary is None:
            return 404, {"error": "Document not found"}
        return 200, {"summary": summary}

    def handle_phrase(data: dict) -> tuple[int, object]:
        # EXTENSION endpoint (not in the reference API): exact-phrase
        # retrieval over the positional layer; 400 when the index was
        # built without it (service raises ValueError)
        fn = getattr(service, "phrase_search", None)
        if fn is None:  # e.g. the hot tier — positional scans need Spark
            return 400, {"error": "Phrase search not supported"}
        phrase, top_k = _text_and_top_k(data, "phrase")
        return 200, fn(phrase, top_k=top_k)

    routes = {"/search": handle_search, "/summarize": handle_summarize,
              "/phrase": handle_phrase}

    def app(environ, start_response):
        path = environ.get("PATH_INFO", "")
        handler = routes.get(path.rstrip("/") or path)
        if handler is None:
            return _json_response(start_response, 404,
                                  {"error": "Not found"})
        if environ.get("REQUEST_METHOD") != "POST":
            return _json_response(start_response, 405,
                                  {"error": "Invalid request method"})
        n = _content_length(environ)
        if n > MAX_BODY_BYTES:
            return _json_response(start_response, 413,
                                  {"error": "Request body too large"})
        try:
            data = _read_json(environ, n)
        except (json.JSONDecodeError, UnicodeDecodeError):
            return _json_response(start_response, 400,
                                  {"error": "Invalid JSON"})
        if not isinstance(data, dict):
            return _json_response(start_response, 400,
                                  {"error": "JSON body must be an object"})
        try:
            status, payload = handler(data)
        except ValueError as exc:
            # a service rejecting the request's parameters (e.g. the hot
            # tier refusing tfidf/diversity) is the caller's error
            return _json_response(start_response, 400,
                                  {"error": str(exc)})
        except Exception as exc:  # parity: Django turns these into 500s
            log.exception("%s failed", path)
            return _json_response(start_response, 500,
                                  {"error": str(exc)})
        return _json_response(start_response, status, payload)

    return app


def serve(service, host: str = "127.0.0.1", port: int = 8000):
    """Blocking stdlib server (wsgiref) — the single-process analog of
    the reference's ``manage.py runserver``. Returns the server object
    when ``port=0`` callers want the bound port for tests; call
    ``serve_forever()`` on it."""
    from wsgiref.simple_server import WSGIServer, make_server

    class _LoggingServer(WSGIServer):
        def handle_error(self, request, client_address):
            log.exception("error serving a request from %s",
                          client_address)

    return make_server(host, port, make_wsgi_app(service),
                       server_class=_LoggingServer)
