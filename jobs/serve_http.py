"""spark-submit entry point: HTTP search/summarize server over a built
index — the reference's ``manage.py runserver`` analog
(SearchEngineServer/api/views.py:34-88, urls.py).

    spark-submit --py-files mse.zip jobs/serve_http.py \
        --index /data/index [--host 0.0.0.0] [--port 8000]

The service outlives requests exactly as the reference's Django worker
keeps its unpickled index resident. bm25 ``POST /search`` and
``POST /summarize`` are answered driver-side by the hot tier (pyarrow
reads of the query terms' bucket directories, no Spark job); tfidf,
bm25f, ``POST /phrase`` and ``diversity`` run as driver-coordinated
top-k Spark jobs on the session. Endpoint/error contract documented in
``modern_search_engines_spark/plans/http_api.py``. Bucket pruning uses
the bucket count the index records in ``corpus_stats.json``.
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8000)
    args = ap.parse_args(argv)

    from modern_search_engines_spark.plans.http_api import serve
    from modern_search_engines_spark.plans.serve import SearchService
    from modern_search_engines_spark.session import get_spark

    spark = get_spark("mse-serve-http")
    service = SearchService(spark, args.index)
    server = serve(service, host=args.host, port=args.port)
    print(f"serving on http://{server.server_address[0]}:"
          f"{server.server_address[1]} (POST /search, POST /summarize)")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
