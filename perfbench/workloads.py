"""The benchmark's two workloads and the metrics they report.

Both run at ``local[<cpus this process may use>]`` in one process with
one closed-loop caller and no client threads. Each builds its index from
``inputs.PAGES`` (2,000) seeded pages, 2.6 MB of html; about 640 of
them are indexed (the rest are non-English or filtered) and the
committed index is about 5.4 MB, of which 2.9 MB are
``postings_compressed`` in 64 term-hash buckets. Spark's JVM heap is
sized to these inputs (2 GB; the engine's default is for 10^5 pages).

``build`` -- the write path.
    Why: the planned build changes (one BM25 kernel, bucketed tf, a
    shuffle budget, the extraction UDF) show here, and it runs no query
    code, so it is the control for every serving change.
    Isolates: ``functions/udfs`` + ``htmlx`` (stage ``extracted``),
    ``operators/indexing`` (``docs``, ``tf``, ``term_stats``),
    ``operators/anchortext`` (``anchor_field``, ``field_norms``),
    ``operators/postings`` + ``functions/codec``
    (``postings_compressed``), ``sources/tables`` commits and the
    ``plans/build`` orchestration.
    Set-up: Spark session, pages parquet, one untimed build (the first
    build in a fresh JVM is 1.5-2x slower, so it stays out of timing).
    Timed: ``jobs/build_index.py main(["--pages", ..., "--out", ...,
    "--anchor"])`` into a fresh directory, repeated until ``--seconds``
    have passed (at least once). One operation is one build.

``query`` -- the read path of a freshly committed index.
    Why: the two serving tiers, measured over the same index and query
    traffic. The Spark tier answers batches; the hot tier answers
    single requests from a replica that has just opened the freshly
    committed index, so its bucket cache starts empty and fills as the
    traffic touches buckets. The hot phase is the only place bucket
    loading is measured, which Arrow-native loading and a byte-bounded
    cache would change, and it runs no build code.
    Isolates: ``plans/build.load_index``, ``operators/wand``,
    ``operators/bm25f``, the tfidf scan and ``operators/query``'s run
    file write (batch phase); ``textlib`` + ``operators/query``
    tokenize, ``plans/hot`` bucket load, decode, union-sum top-k,
    doc-id resolve and display, and ``plans/http_api`` (hot phase).
    Set-up: Spark session, pages parquet and the index build (the
    JVM's first build, which also warms the JIT for the batches).
    Timed, batch phase: ``jobs/run_queries.py main`` over one seeded
    ``inputs.BATCH_QUERIES``-query TSV for each of ``--method wand``,
    ``bm25f`` and ``tfidf``. Timed, hot phase: ``POST /search``
    through ``plans.http_api.make_wsgi_app`` over one
    ``plans.hot.HotSearchService`` opened when the timed window starts,
    called in-process. The caller replays one seeded block of
    ``inputs.STREAM_BLOCK`` requests, in the same order, once per
    second of ``--seconds`` (a pass takes about a second) and at least
    ``HOT_MIN_PASSES`` times; the pass count depends on ``--seconds``
    only, so every run sends the same requests. The passes are spread
    evenly over four slots: before each batch and after the last. The
    service's bucket cache holds 64 buckets, the whole index, and
    starts empty: the first pass loads buckets from disk, later ones
    hit. One operation is one request (latency metrics) or one batch
    query (throughput).
    A request's latency is its fastest time over the passes, as
    ``timeit`` reports the best of several repeats. On a shared
    virtual machine, time stolen by the hypervisor (the steal count in
    ``/proc/stat``) raised the plain median of all requests by 20-40%
    from run to run, and a slow spell often lasts as long as several
    passes; spreading the passes over the whole timed window gives
    each request a quiet moment to be timed in. It is the warm-cache
    service time of each request of the mix; the first pass's bucket
    loads show in the per-layer ``hot.bucket_read_ms``. Cold sessions
    (a fresh service every few requests) were tried and dropped: the
    latency of a cold request depends on how many buckets its terms
    touch, and its median varied by 0.2-0.4 between seeds at the
    request counts a run can afford.

End-to-end metrics (every run of both workloads, tracing off):
    setup_s                    wall time before the timed window
    op_ms_p50, op_ms_p90       operation latency (a build; a request's
                               fastest pass, over the block's
                               ``inputs.STREAM_BLOCK`` positions, which
                               leaves 25 beyond p90)
    items_per_s                build: input pages per second of build
                               wall; query: batch queries per second of
                               ``run_queries.main`` wall, three methods
    cpu_s_per_kitem            process-tree CPU (this process, JVM, Python
                               workers) over the timed phases per 1,000
                               items: input pages; batch queries + hot
                               requests
    peak_rss_mb                sum of each tree process's peak RSS
    index_bytes_per_page_byte  committed index bytes / input html bytes
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import procfs
import tracer as tracing

ROOT = os.getcwd()

BUILD_STAGES = ("extracted", "docs", "tf", "term_stats", "anchor_field",
                "field_norms", "postings_compressed")
STAGE_FIELDS = (("wall_s", "s"), ("task_s", "s"), ("gc_s", "s"),
                ("shuffle_read_mb", "MiB"), ("shuffle_write_mb", "MiB"),
                ("spill_mb", "MiB"), ("skew", "ratio"), ("bytes", "B"))
METHODS = ("wand", "bm25f", "tfidf")
BATCH_FIELDS = (("qps", "1/s"), ("load_index_s", "s"), ("jobs", "count"),
                ("task_s", "s"), ("input_mb", "MiB"), ("shuffle_mb", "MiB"),
                ("write_s", "s"), ("driver_s", "s"))
HOT_FIELDS = (("hot.requests", "count"), ("hot.search_ms", "ms"),
              ("hot.tokenize_ms", "ms"), ("hot.bucket_read_ms", "ms"),
              ("hot.bucket_reads", "count"), ("hot.bucket_lookups", "count"),
              ("hot.bucket_hit_ratio", "ratio"), ("hot.decode_ms", "ms"),
              ("hot.decoded_lists", "count"), ("hot.docid_read_ms", "ms"),
              ("hot.docid_rowgroups_read", "count"),
              ("hot.display_ms", "ms"), ("http.app_ms", "ms"),
              ("hot.self_ms", "ms"))
TRACE_FIELDS = (("trace.op_ms_p50", "ms"), ("trace.overhead_pct", "%"))

# every per-layer metric, in the order BENCHMARK.json lists them; a
# traced run reports all of them, 0 for layers its workload leaves idle
PER_LAYER = {
    **{f"stage.{s}.{f}": u for s in BUILD_STAGES for f, u in STAGE_FIELDS},
    "stage.other.task_s": "s", "build.driver_s": "s",
    **{f"batch.{m}.{f}": u for m in METHODS for f, u in BATCH_FIELDS},
    **dict(HOT_FIELDS), **dict(TRACE_FIELDS),
}
END_TO_END = {"setup_s": "s", "op_ms_p50": "ms", "op_ms_p90": "ms",
              "items_per_s": "1/s", "cpu_s_per_kitem": "s",
              "peak_rss_mb": "MiB", "index_bytes_per_page_byte": "ratio"}

TOP_K = 20
HOT_MIN_PASSES = 4
SCORE_TOL = 1e-9


class Result:
    """What one run reports: attempts, failures, correctness, metrics."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.samples: dict[str, int] = {}

    def fail(self, what: str) -> None:
        """One operation failed: count it and keep going."""
        self.failed += 1
        print(f"failed operation: {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def wrong(self, what: str) -> None:
        """An output is incorrect: the run's correctness check fails."""
        self.problems.append(what)
        print(f"INCORRECT: {what}", file=sys.stderr)

    def to_json(self, names: dict[str, str]) -> dict:
        return {"correct": not self.problems, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {n: {"value": self.metrics[n], "unit": u}
                            for n, u in names.items()}}


# -- shared helpers ------------------------------------------------------

def _job(name: str):
    """A ``jobs/<name>.py`` entry-point module of the checkout."""
    spec = importlib.util.spec_from_file_location(
        f"jobs_{name}", os.path.join(ROOT, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _call(fn, *args):
    """Run a program entry point with its prints sent to stderr, so
    the benchmark's stdout ends with its own result line."""
    with contextlib.redirect_stdout(sys.stderr):
        return fn(*args)


def _setup_spark_and_pages(work: str, seed: int) -> str:
    import inputs
    from modern_search_engines_spark.session import get_spark
    pages = os.path.join(work, "pages")
    inputs.write_pages(get_spark("perfbench-pages"), seed, pages)
    return pages


def stop_jvm() -> None:
    """Stop Spark and its JVM, and wait for the JVM and the Python
    workers it forked to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    pids = procfs.descendants()[1:]
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=15)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    procfs.wait_gone(pids, timeout_s=10)


def _stage_manifests(index_dir: str) -> dict[str, dict]:
    out = {}
    for name in sorted(os.listdir(index_dir)):
        path = os.path.join(index_dir, name, "_MANIFEST.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
    return out


def _stage_rows(index_dir: str) -> dict[str, int]:
    return {n: m["rows"] for n, m in _stage_manifests(index_dir).items()}


def _index_ratio(index_dir: str, pages_dir: str) -> float:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    html = ds.dataset(pages_dir, format="parquet").to_table(
        columns=["html"]).column("html")
    html_bytes = pc.sum(pc.binary_length(html)).as_py()
    index_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, files in os.walk(index_dir) for f in files)
    return index_bytes / html_bytes


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))]


# -- build ---------------------------------------------------------------

def run_build(work: str, seed: int, seconds: float, traced: bool) -> Result:
    import inputs

    res = Result()
    t_setup = time.perf_counter()
    pages = _setup_spark_and_pages(work, seed)
    build_index = _job("build_index")

    def build(out: str) -> None:
        _call(build_index.main,
              ["--pages", pages, "--out", out, "--anchor"])

    build(os.path.join(work, "warmup_index"))
    expected_rows = _stage_rows(os.path.join(work, "warmup_index"))
    res.metrics["setup_s"] = time.perf_counter() - t_setup

    tr = tracing.Tracer() if traced else None
    apps: list[dict] = []
    if tr is not None:
        _trace_build(tr, apps)
    walls: list[float] = []
    peak = procfs.tree_peak_rss_mb()
    cpu0 = procfs.tree_cpu_s()
    t0 = time.perf_counter()
    last_ok = None
    while res.attempted == 0 or time.perf_counter() - t0 < seconds:
        out = os.path.join(work, f"index{res.attempted}")
        res.attempted += 1
        ts = time.perf_counter()
        try:
            build(out)
        except Exception:
            res.fail(f"build {out}")
            continue
        walls.append(time.perf_counter() - ts)
        last_ok = out
        peak = max(peak, procfs.tree_peak_rss_mb())
        rows = _stage_rows(out)
        if rows != expected_rows:
            res.wrong(f"stage rows {rows} != setup build's {expected_rows}")
    cpu = procfs.tree_cpu_s() - cpu0
    if tr is not None:
        tr.restore()
    if not walls:
        raise RuntimeError("every build failed")
    kpages = len(walls) * inputs.PAGES / 1000
    res.samples["builds"] = len(walls)
    res.metrics.update({
        "op_ms_p50": statistics.median(walls) * 1e3,
        "op_ms_p90": _pct(walls, 90) * 1e3,
        "items_per_s": kpages * 1000 / sum(walls),
        "cpu_s_per_kitem": cpu / kpages,
        "peak_rss_mb": peak,
        "index_bytes_per_page_byte": _index_ratio(last_ok, pages),
    })
    if tr is not None:
        res.metrics.update(_build_layers(tr, apps, walls, last_ok))
    return res


def _trace_build(tr: tracing.Tracer, apps: list[dict]) -> None:
    """Tag each stage commit's Spark jobs with a job group named for the
    stage, time it, and read the build application's task metrics
    before ``build_index.main`` stops its session."""
    from modern_search_engines_spark.plans import build as build_plan
    from modern_search_engines_spark.sources.tables import StageWriter

    write_stage = StageWriter.write_stage

    def traced_write_stage(self, df, name, *args, **kwargs):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"stage {name}")
        t0 = time.perf_counter()
        try:
            return write_stage(self, df, name, *args, **kwargs)
        finally:
            tr.spans[f"stage.{name}"].append((t0, time.perf_counter()))
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    build_persistent_index = build_plan.build_persistent_index

    def traced_build(spark, *args, **kwargs):
        t0 = time.perf_counter()
        out = build_persistent_index(spark, *args, **kwargs)
        t1 = time.perf_counter()
        tr.spans["build"].append((t0, t1))
        apps.append(tracing.spark_app_metrics(spark.sparkContext))
        tr.spans["trace.rest"].append((t1, time.perf_counter()))
        return out

    tr.replace(StageWriter, "write_stage", traced_write_stage)
    tr.replace(build_plan, "build_persistent_index", traced_build)


def _build_layers(tr: tracing.Tracer, apps: list[dict],
                  walls: list[float], index_dir: str) -> dict[str, float]:
    """Per-stage metrics averaged over the run's builds. Spark stages
    are attributed to the job group of the first job that ran them, so
    the stage task times plus ``stage.other.task_s`` add up to the
    build's total task time even where stages run concurrently."""
    n = len(apps)
    out = dict.fromkeys(PER_LAYER, 0.0)
    manifests = _stage_manifests(index_dir)
    total_task = 0.0
    for s in BUILD_STAGES:
        p = f"stage.{s}."
        out[p + "wall_s"] = tr.total_s(f"stage.{s}") / n
        out[p + "bytes"] = float(manifests.get(s, {}).get("bytes", 0))
        mine = [st for app in apps for st in app["stages"].values()
                if st["group"] == s]
        for field in ("task_s", "gc_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb"):
            out[p + field] = sum(st[field] for st in mine) / n
        if mine:
            out[p + "skew"] = max(mine, key=lambda st: st["task_s"])["skew"]
        total_task += out[p + "task_s"]
    all_task = sum(st["task_s"] for app in apps
                   for st in app["stages"].values()) / n
    out["stage.other.task_s"] = all_task - total_task
    builds = tr.spans["build"]
    stage_spans = [sp for s in BUILD_STAGES for sp in tr.spans[f"stage.{s}"]]
    out["build.driver_s"] = sum(
        (b - a) - tracing.covered_s([(x, y) for x, y in stage_spans
                                     if a <= x and y <= b])
        for a, b in builds) / n
    _trace_overhead(out, _trace_cost_s(tr), walls, sum(walls))
    return out


def _trace_cost_s(tr: tracing.Tracer) -> float:
    """The tracer's own time: measured span cost times spans recorded,
    plus the time spent reading Spark's REST API."""
    return (tr.n_spans() * tracing.span_cost_s()
            + tr.total_s("trace.rest"))


def _trace_overhead(out: dict[str, float], cost_s: float,
                    op_s: list[float], window_s: float) -> None:
    """Operation latency as seen with tracing on, and the tracer's share
    of the timed work."""
    out["trace.op_ms_p50"] = statistics.median(op_s) * 1e3
    out["trace.overhead_pct"] = 100 * cost_s / window_s


# -- query ---------------------------------------------------------------

def _post(app, path: str, payload: dict) -> tuple[int, bytes]:
    body = json.dumps(payload).encode()
    status: list[str] = []
    chunks = app({"PATH_INFO": path, "REQUEST_METHOD": "POST",
                  "CONTENT_LENGTH": str(len(body)),
                  "wsgi.input": io.BytesIO(body)},
                 lambda s, headers: status.append(s))
    data = b"".join(chunks)
    return int(status[0].split()[0]), data


def _read_run_file(path: str) -> dict[str, list[tuple[int, str, float]]]:
    """qid -> [(rank, url, score)] in rank order."""
    out: dict[str, list[tuple[int, str, float]]] = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".csv"):
            continue
        with open(os.path.join(path, name)) as f:
            for line in f:
                qid, rank, url, score = line.rstrip("\n").split("\t")
                out.setdefault(qid, []).append((int(rank), url, float(score)))
    for rows in out.values():
        rows.sort()
    return out


def _check_results(res: Result, what: str, scores: list[float],
                   limit: int) -> None:
    if len(scores) > limit:
        res.wrong(f"{what}: {len(scores)} results > {limit}")
    if any(a < b for a, b in zip(scores, scores[1:])):
        res.wrong(f"{what}: scores not in descending order")


def run_query(work: str, seed: int, seconds: float, traced: bool) -> Result:
    import inputs

    res = Result()
    t_setup = time.perf_counter()
    pages = _setup_spark_and_pages(work, seed)
    index = os.path.join(work, "index")
    _call(_job("build_index").main,
          ["--pages", pages, "--out", index, "--anchor"])
    tsv = os.path.join(work, "queries.tsv")
    batch = inputs.write_batch_tsv(seed, tsv)
    run_queries = _job("run_queries")
    res.metrics["setup_s"] = time.perf_counter() - t_setup

    hot_tr = tracing.Tracer() if traced else None
    hot = _HotCaller(res, index, seed, hot_tr)
    passes = max(HOT_MIN_PASSES, round(seconds))
    slots = len(METHODS) + 1
    per_slot = [passes // slots + (i < passes % slots) for i in range(slots)]
    peak = procfs.tree_peak_rss_mb()
    cpu0 = procfs.tree_cpu_s()
    batch_walls: dict[str, float] = {}
    layers = dict.fromkeys(PER_LAYER, 0.0) if traced else None
    trace_cost = 0.0
    for slot, method in enumerate(METHODS):
        hot.run(per_slot[slot])
        out = os.path.join(work, f"run_{method}")
        tr = tracing.Tracer() if traced else None
        apps: list[dict] = []
        if tr is not None:
            _trace_batch(tr, apps)
        res.attempted += 1
        ts, wall0 = time.perf_counter(), time.time()
        try:
            _call(run_queries.main, ["--index", index, "--queries", tsv,
                                     "--out", out, "--method", method])
        except Exception:
            res.fail(f"run_queries --method {method}")
            continue
        finally:
            if tr is not None:
                tr.restore()
        batch_walls[method] = time.perf_counter() - ts
        peak = max(peak, procfs.tree_peak_rss_mb())
        if tr is not None:
            trace_cost += _trace_cost_s(tr)
            _batch_layers(layers, method, tr, apps[0], len(batch),
                          batch_walls[method], (wall0, time.time()))
        for qid, rows in _read_run_file(out).items():
            _check_results(res, f"{method} run file {qid}",
                           [r[2] for r in rows], 100)
    hot.run(per_slot[-1])
    cpu = procfs.tree_cpu_s() - cpu0
    peak = max(peak, procfs.tree_peak_rss_mb())
    if not batch_walls:
        raise RuntimeError("every batch failed")
    latencies = [b for b in hot.best if b is not None]
    if not latencies:
        raise RuntimeError("every request failed")

    _gate(res, hot.app, batch,
          _read_run_file(os.path.join(work, "run_wand")))
    n_batch = len(batch) * len(batch_walls)
    res.samples.update(request_positions=len(latencies), passes=passes,
                       requests=hot.sent, batches=len(batch_walls))
    res.metrics.update({
        "op_ms_p50": statistics.median(latencies) * 1e3,
        "op_ms_p90": _pct(latencies, 90) * 1e3,
        "items_per_s": n_batch / sum(batch_walls.values()),
        "cpu_s_per_kitem": cpu / ((n_batch + hot.sent) / 1000),
        "peak_rss_mb": peak,
        "index_bytes_per_page_byte": _index_ratio(index, pages),
    })
    if layers is not None:
        trace_cost += _trace_cost_s(hot_tr)
        _hot_layers(layers, hot_tr, hot.counts, hot.sent)
        _trace_overhead(layers, trace_cost, latencies,
                        sum(batch_walls.values())
                        + hot_tr.total_s("http.app"))
        res.metrics.update(layers)
    return res


class _HotCaller:
    """One closed-loop caller of one freshly opened hot service. It
    replays one seeded block of requests pass by pass and keeps each
    block position's fastest 200 latency."""

    def __init__(self, res: Result, index: str, seed: int,
                 tr: tracing.Tracer | None) -> None:
        import inputs
        from modern_search_engines_spark.plans.hot import HotSearchService
        from modern_search_engines_spark.plans.http_api import make_wsgi_app

        stream = inputs.query_stream(seed, "hot")
        self.block = [next(stream) for _ in range(inputs.STREAM_BLOCK)]
        self.service = HotSearchService(index)
        self.app = make_wsgi_app(self.service)
        self.best: list[float | None] = [None] * len(self.block)
        self.sent = 0
        self.counts = {"lookups": 0, "rowgroups": 0}
        self._res, self._tr = res, tr

    def run(self, passes: int) -> None:
        """Send ``passes`` passes of the block; tracing, if on, covers
        these calls only, not the batches between them."""
        tr = self._tr
        if tr is not None:
            _trace_hot(tr, self.counts)
        try:
            for _ in range(passes):
                for i, query in enumerate(self.block):
                    self._send(i, query)
        finally:
            searcher = self.service.searcher
            self.counts["rowgroups"] = searcher.docs_rowgroups_read
            if tr is not None:
                tr.restore()

    def _send(self, i: int, query: str) -> None:
        res = self._res
        self.sent += 1
        res.attempted += 1
        ts = time.perf_counter()
        try:
            status, body = _post(self.app, "/search",
                                 {"query": query, "top_k": TOP_K})
        except Exception:
            res.fail(f"POST /search {query!r} raised")
            return
        te = time.perf_counter()
        if self._tr is not None:
            self._tr.spans["http.app"].append((ts, te))
        if status != 200:
            res.failed += 1
            print(f"failed operation: POST /search {query!r} -> "
                  f"{status} {body[:200]!r}", file=sys.stderr)
            return
        if self.best[i] is None or te - ts < self.best[i]:
            self.best[i] = te - ts
        docs = json.loads(body)
        _check_results(res, f"POST /search {query!r}",
                       [d["score"] for d in docs], TOP_K)


def _gate(res: Result, app, batch: list[tuple[str, str]],
          wand: dict[str, list[tuple[int, str, float]]]) -> None:
    """The hot tier's top-TOP_K must equal the wand run file's, rank for
    rank, for the first GATE_QUERIES batch queries. A query the hot tier
    fails on (a failure the hot phase already counts) must have no wand
    rows."""
    import inputs

    for qid, query in batch[:inputs.GATE_QUERIES]:
        want = [(url, score) for _, url, score in wand.get(qid, [])[:TOP_K]]
        status, body = _post(app, "/search", {"query": query, "top_k": TOP_K})
        got = ([(d["url"], d["score"]) for d in json.loads(body)]
               if status == 200 else [])
        same = len(got) == len(want) and all(
            gu == wu and abs(gs - ws) <= SCORE_TOL
            for (gu, gs), (wu, ws) in zip(got, want))
        if not same:
            res.wrong(f"hot vs wand top-{TOP_K} differ for {qid} "
                      f"{query!r}: {got[:3]} vs {want[:3]}")


def _trace_batch(tr: tracing.Tracer, apps: list[dict]) -> None:
    """Time index loading and the run-file write, and read the batch
    application's task metrics before ``run_queries.main`` stops it."""
    from modern_search_engines_spark.operators import query as qmod
    from modern_search_engines_spark.plans import build as build_plan

    tr.wrap(build_plan, "load_index", "batch.load_index")
    write_run_file = qmod.write_run_file

    def traced_write(results, docs, path):
        t0 = time.perf_counter()
        write_run_file(results, docs, path)
        t1 = time.perf_counter()
        tr.spans["batch.write"].append((t0, t1))
        apps.append(tracing.spark_app_metrics(
            results.sparkSession.sparkContext))
        tr.spans["trace.rest"].append((t1, time.perf_counter()))

    tr.replace(qmod, "write_run_file", traced_write)


def _batch_layers(out: dict[str, float], method: str, tr: tracing.Tracer,
                  app: dict, n_queries: int, wall: float,
                  wall_clock: tuple[float, float]) -> None:
    p = f"batch.{method}."
    stages = app["stages"].values()
    rest = tr.total_s("trace.rest")
    out[p + "qps"] = n_queries / (wall - rest)
    out[p + "load_index_s"] = tr.total_s("batch.load_index")
    out[p + "jobs"] = float(app["jobs"])
    out[p + "task_s"] = sum(s["task_s"] for s in stages)
    out[p + "input_mb"] = sum(s["input_mb"] for s in stages)
    out[p + "shuffle_mb"] = sum(s["shuffle_write_mb"] for s in stages)
    out[p + "write_s"] = tr.total_s("batch.write")
    a, b = wall_clock
    jobs = [(max(x, a), min(y, b)) for x, y in app["job_spans"]]
    out[p + "driver_s"] = (b - a) - rest - tracing.covered_s(jobs)


class _ModuleOverlay:
    """Stands in for a module: the given attributes, and everything else
    from the module itself."""

    def __init__(self, module, **attrs) -> None:
        self._module = module
        self.__dict__.update(attrs)

    def __getattr__(self, name):
        return getattr(self._module, name)


def _trace_hot(tr: tracing.Tracer, hot_counts: dict) -> None:
    """Spans around the hot tier's calls into tokenize, bucket reads,
    decode and doc-id reads, and a count of distinct buckets each
    request looks up."""
    import pyarrow.parquet as pq

    from modern_search_engines_spark.functions import codec, hashing
    from modern_search_engines_spark.operators import query as qmod
    from modern_search_engines_spark.plans import hot

    pq_seen_by_hot = _ModuleOverlay(
        pq, read_table=pq.read_table,
        ParquetFile=type("ParquetFile", (pq.ParquetFile,), {}))
    tr.wrap(pq_seen_by_hot, "read_table", "hot.bucket_read")
    tr.wrap(pq_seen_by_hot.ParquetFile, "read_row_group", "hot.docid_read")
    tr.replace(hot, "pq", pq_seen_by_hot)
    tr.wrap(qmod, "query_term_rows", "hot.tokenize")
    tr.wrap(codec, "decompress", "hot.decode")
    tr.wrap(hot.HotSearchService, "search", "hot.service")

    bucket_of = hashing.bucket_of
    search = hot.HotSearcher.search

    def counting_search(self, *args, **kwargs):
        buckets: set[int] = set()

        def counting_bucket_of(term, n_buckets):
            b = bucket_of(term, n_buckets)
            buckets.add(b)
            return b

        hashing.bucket_of = counting_bucket_of
        t0 = time.perf_counter()
        try:
            return search(self, *args, **kwargs)
        finally:
            tr.spans["hot.search"].append((t0, time.perf_counter()))
            hashing.bucket_of = bucket_of
            hot_counts["lookups"] += len(buckets)

    tr.replace(hot.HotSearcher, "search", counting_search)


def _hot_layers(out: dict[str, float], tr: tracing.Tracer, hot_counts: dict,
                n_requests: int) -> None:
    """Per-request means (ms) and run totals (counts) of the hot phase."""
    def ms(span: str) -> float:
        return tr.total_s(span) * 1e3 / n_requests

    reads = tr.calls("hot.bucket_read")
    lookups = hot_counts["lookups"]
    children = sum(ms(s) for s in ("hot.tokenize", "hot.bucket_read",
                                   "hot.decode", "hot.docid_read"))
    out.update({
        "hot.requests": float(n_requests),
        "hot.search_ms": ms("hot.search"),
        "hot.tokenize_ms": ms("hot.tokenize"),
        "hot.bucket_read_ms": ms("hot.bucket_read"),
        "hot.bucket_reads": float(reads),
        "hot.bucket_lookups": float(lookups),
        "hot.bucket_hit_ratio": 1 - reads / lookups if lookups else 0.0,
        "hot.decode_ms": ms("hot.decode"),
        "hot.decoded_lists": float(tr.calls("hot.decode")),
        "hot.docid_read_ms": ms("hot.docid_read"),
        "hot.docid_rowgroups_read": float(hot_counts["rowgroups"]),
        "hot.display_ms": ms("hot.service") - ms("hot.search"),
        "http.app_ms": ms("http.app") - ms("hot.service"),
        "hot.self_ms": ms("hot.search") - children,
    })


WORKLOADS = {"build": run_build, "query": run_query}
