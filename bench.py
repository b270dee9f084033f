"""Benchmark harness (driver-run per round → BENCH_r{N}.json).

Measures, per BASELINE.md protocol:
  1. full staged index-build throughput (docs/sec) on the deterministic
     synthetic page corpus at TWO parallelism levels — N and 4N cores
     on identical input (the sandbox proxy for N vs 4N executors; north
     rule scaling-efficiency evidence). Headline pair: local[1] ->
     local[4]; pairs above the box's core count would measure
     oversubscription, not the engine. Corpus warmed untimed,
     strictly alternating run order + min-of-6 per headline level, the
     six pairs spread across the whole run (this box has multi-minute
     slow phases and gVisor cold-I/O spikes);
  2. per-query BM25 latency (block-max WAND over compressed postings,
     bucket-pruned scan) → p50/p95 over the reference-style query set;
  3. the driver-contract queries at $SPARK_GRAFT_SF_DIR.

Sections 2 and 3 run at local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {<name>: sec ... + throughput/efficiency keys}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import pandas as pd

from modern_search_engines_spark import contract, corpus
from modern_search_engines_spark.operators import wand
from modern_search_engines_spark.plans.build import build_persistent_index
from modern_search_engines_spark.session import get_spark

BENCH_QUERIES = [
    ("q01", "castle museum"), ("q02", "hotels in tuebingen"),
    ("q03", "university research lecture"), ("q04", "river boat tour"),
    ("q05", "food restaurant review"), ("q06", "old town market"),
    ("q07", "music festival garden"), ("q08", "library science course"),
    ("q09", "travel guide map"), ("q10", "church history wall"),
    ("q11", "student campus semester"), ("q12", "bridge neckar walk"),
    ("q13", "art gallery theater"), ("q14", "wine beer cheese"),
    ("q15", "hiking trail summit"), ("q16", "professor exam course"),
    ("q17", "cafe bakery menu"), ("q18", "tübingen"),
    ("q19", "ancient tower gate"), ("q20", "quiet park view"),
]

CONTRACT_BENCH = (
    "bm25_topk", "tfidf_topk", "doc_tf", "term_df_idf",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_components",
    "link_pagerank", "embedding_cosine_topk",
    "events_user_topk", "events_sessions", "tpch_pricing_summary",
    "line_dedup", "pii_scrub", "decontam_hits", "pack_sequences",
    "cap_per_source",
    "dsir_weights", "dup_gram_fraction", "gopher_quality", "span_dedup",
    "c4_filters", "url_dedup", "semdedup",
    "lm_perplexity", "ccnet_buckets", "dedup_incremental",
    "curation_report", "events_asof", "events_range_join", "link_hits",
    "decontam_fuzzy", "quality_classifier", "bpe_pair_counts",
    "dup_line_stats",
    "phrase_match_topk", "bm25_conj_topk", "proximity_docs",
    "crawl_frontier_bfs", "crawl_schedule",
    "anchor_text_terms", "bm25f_topk", "cooccur_pmi",
)


def materialize_pages(n_pages: int, path: str, cpus: int) -> None:
    """Write the synthetic pages table once (untimed): the engine's input
    is a pages TABLE per the north rule — corpus synthesis is not part of
    the measured job."""
    spark = get_spark("bench-gen", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    try:
        (corpus.pages_df(spark, n_pages, seed=42, num_partitions=128)
         .write.mode("overwrite").parquet(path))
    finally:
        spark.stop()


def _warm_session(spark, parallelism: int) -> None:
    """Untimed JVM/worker warm-up before a timed build: long-lived
    cluster executors amortize JIT compilation, codegen and Python
    worker forks across thousands of jobs — a cold local JVM would
    otherwise pay all three inside the first timed stage, which
    distorts the short (hi-parallelism) runs far more than the long
    ones."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    (spark.range(100_000).repartition(parallelism)
     .select(F.sum(_noop("id"))).collect())


def build_at(parallelism: int, pages_path: str, out_dir: str,
             repeats: int = 2) -> float:
    """Full staged build at the given core count reading the SAME pages
    parquet; returns min wall seconds over ``repeats`` runs (fresh build
    dir each; gVisor noise suppression)."""
    best = float("inf")
    for r in range(repeats):
        # IDENTICAL job config at every level — only the core count
        # varies, exactly the north rule's fixed-job N vs 4N setup (a
        # per-level shuffle-partition count would make the lo and hi
        # jobs different plans)
        spark = get_spark(f"bench-build-{parallelism}-{r}",
                          master=f"local[{parallelism}]",
                          shuffle_partitions=16)
        try:
            target = out_dir if r == repeats - 1 else f"{out_dir}.warm{r}"
            pages = spark.read.parquet(pages_path)
            _warm_session(spark, parallelism)
            t0 = time.time()
            build_persistent_index(spark, pages, target, verbose=False)
            best = min(best, time.time() - t0)
        finally:
            spark.stop()
            time.sleep(3)  # let JVM/page-cache churn settle (gVisor)
            if r != repeats - 1:
                shutil.rmtree(f"{out_dir}.warm{r}", ignore_errors=True)
    return best


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def machine_ceiling(lo: int, hi: int) -> float:
    """Pure-python multiprocessing scaling of this box from lo to hi
    procs — the hardware/sandbox ceiling any job measurement is subject
    to (gVisor + SMT + host contention make 4x threads < 4x throughput
    even for embarrassingly-parallel work)."""
    import multiprocessing as mp
    time.sleep(5)  # let JVM shutdown/page-cache churn settle
    times = {}
    for procs in (lo, hi):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            with mp.Pool(procs) as p:
                p.map(_burn, [4_000_000] * (hi * 8))
            best = min(best, time.time() - t0)
        times[procs] = best
    return (times[lo] / times[hi]) / (hi / lo)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.1
    # full-size corpus: the fixed per-build seconds (stage-job floors +
    # commits, ~4s warm) must be <5% of the local[4] wall or they cap
    # the ratio (Amdahl) — measured 0.76 at n_pages/2 vs the same
    # code's 0.83 model at n_pages
    n_pages = max(400, int(os.environ.get("SPARK_GRAFT_BENCH_PAGES")
                           or sf * 800_000))
    # every bench session shares one local-mode JVM whose heap grows
    # toward spark.driver.memory across builds; past physical RAM the
    # OOM killer ends the JVM mid-run, so default to half the box
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM",
                          f"{min(48 << 10, ram_mb // 2)}m")

    t_start = time.time()
    queries: dict[str, float] = {}
    work = tempfile.mkdtemp(prefix="mse_bench_")
    try:
        # -- 1. scaling: identical input at N and 4N cores ---------------
        # HEADLINE pair: local[1] -> local[4]. On a real cluster, 4N
        # executors live on separate machines — they do not share one
        # box's memory bus the way local threads do. Measured per-core
        # throughput on a shared box degrades as thread count grows even
        # for pure-python multiprocessing (the machine_parallel_ceiling
        # calibration), and a pair above the box's core count measures
        # oversubscription, so 1->4 is the one pair reported.
        #
        # Protocol: corpus warmed untimed (first read of a fresh parquet
        # dir pays a ~2x cold-I/O penalty on gVisor — measured 99s vs
        # 51s for the same build), then STRICTLY ALTERNATING lo,hi,lo,hi
        # with min-of-6 per level: this box has multi-minute slow phases
        # (co-tenant load; identical builds measured 28.6s and 42.1s an
        # hour apart), and alternation prevents one phase from eating
        # both runs of one level. Fresh build dir per run (a reused dir
        # would resume, not rebuild).
        lo, hi = 1, 4
        pages_path = os.path.join(work, "pages")
        materialize_pages(n_pages, pages_path, cpus)
        warm = get_spark("bench-warm", master=f"local[{cpus}]")
        try:  # pull the corpus through the page cache, untimed. JVM-only
            # noop sink (reads every column/page, runs no Python workers):
            # a python action (foreach) here left a benign-but-noisy
            # DAGScheduler "Broken pipe" accumulator race against the
            # spark.stop() below — the r02 bench-tail stack trace
            warm.read.parquet(pages_path).write.format("noop") \
                .mode("overwrite").save()
        finally:
            warm.stop()

        def run1(par, path, tag):
            return build_at(par, path,
                            os.path.join(work, f"idx{tag}"), repeats=1)

        # min-of-6, strictly alternating lo,hi within each pair, and the
        # SIX PAIRS ARE SPREAD ACROSS THE WHOLE BENCH RUN (two up
        # front, then one after each other section, the last at the very
        # end): this box's slow phases last tens of minutes (measured:
        # the same build code read 0.81 and 0.73 efficiency in runs an
        # hour apart; a full back-to-back min-of-4 block read 0.715
        # inside one degraded phase that a same-day spread run measured
        # at 0.78+; the r3 driver run's min-of-4 read 0.788 where three
        # builder runs of the same code read 0.830/0.827/0.843), so
        # samples taken minutes apart are the only way the min — whose
        # definition (min wall per level, ratio/4) is unchanged —
        # estimates the machine's true floor rather than one phase.
        # Pairs stay SYMMETRIC (every lo sample has a hi sample):
        # sampling one level more often than the other would bias the
        # floor estimate toward whichever level got more draws. All raw
        # samples are emitted in the JSON so the floor is auditable.
        samples: dict[str, list[float]] = {"lo": [], "hi": []}

        def head_pair(tag: str, keep_hi: bool = False) -> None:
            samples["lo"].append(run1(lo, pages_path, f"h_lo_{tag}"))
            samples["hi"].append(run1(hi, pages_path, f"h_hi_{tag}"))
            for t in ("lo",) if keep_hi else ("lo", "hi"):
                shutil.rmtree(os.path.join(work, f"idxh_{t}_{tag}"),
                              ignore_errors=True)

        # the first local[4] index is kept: the query section reads it
        head_pair("a", keep_hi=True)
        query_index = os.path.join(work, "idxh_hi_a")
        head_pair("b")

        # -- 2. query latency over the built index -----------------------
        spark = get_spark("bench-query", master=f"local[{cpus}]",
                          shuffle_partitions=cpus * 2)
        from modern_search_engines_spark.plans.build import load_index
        idx = load_index(spark, query_index)
        comp = idx["postings_compressed"]
        dim = idx["doc_dim"]
        nb = idx["stats"]["n_buckets"]
        # warm-up (JVM/codegen)
        wand.run_wand(spark, BENCH_QUERIES[:1], comp, dim, k=100,
                      n_buckets=nb).collect()
        lats = []
        for qid, qtext in BENCH_QUERIES:
            best = float("inf")
            for _ in range(3):  # best-of-3: single-shot latencies are
                # polluted by gVisor's multi-second I/O stalls (a
                # best-of-2 p95 still caught a double-stall outlier —
                # 1.94 s vs the 0.85 s steady state); the steady-state
                # number is the reproducible one
                t0 = time.time()
                wand.run_wand(spark, [(qid, qtext)], comp, dim,
                              k=100, n_buckets=nb).collect()
                best = min(best, time.time() - t0)
            lats.append(best)
        lats.sort()
        queries["wand_query_p50_sec"] = round(statistics.median(lats), 4)
        queries["wand_query_p95_sec"] = round(
            lats[max(0, int(len(lats) * 0.95) - 1)], 4)
        best = float("inf")
        for _ in range(3):  # min-of-3 like the per-query latencies: a
            # single shot caught a multi-second gVisor stall (2.98 s vs
            # the same session's 1.5-1.8 s steady state)
            t0 = time.time()
            wand.run_wand(spark, BENCH_QUERIES, comp, dim, k=100,
                          n_buckets=nb).collect()
            best = min(best, time.time() - t0)
        queries["wand_batch_20q_sec"] = round(best, 4)

        # hot serving path (plans/hot.py): same index, same WAND, no
        # Spark job per query — the interactive-latency tier
        from modern_search_engines_spark.plans.hot import HotSearcher
        hot = HotSearcher(query_index)
        hot.search(BENCH_QUERIES[0][1], top_k=100)  # warm caches
        hot_lats = []
        for _, qtext in BENCH_QUERIES:
            t0 = time.time()
            hot.search(qtext, top_k=100)
            hot_lats.append(time.time() - t0)
        hot_lats.sort()
        queries["wand_hot_p50_sec"] = round(
            statistics.median(hot_lats), 4)
        queries["wand_hot_p95_sec"] = round(
            hot_lats[max(0, int(len(hot_lats) * 0.95) - 1)], 4)
        spark.stop()

        head_pair("c")  # third spread sample

        # -- 3. driver-contract queries at the sf dir --------------------
        # min-of-2 with the two samples taken ~20 min apart in FRESH
        # sessions (pass 2 runs after the query/latency section): the r4
        # driver file read bm25_topk at 6.1 s vs 2.3 s in r3 with zero
        # code change on that path — single shots inside one long
        # accumulated session are weather, not measurement. Same cure as
        # the headline's spread protocol, applied per entry.
        def contract_pass() -> None:
            spark = get_spark("bench-contract", master=f"local[{cpus}]",
                              shuffle_partitions=cpus * 2)
            try:
                # untimed warm-up: python workers + one cold read of
                # each input table, so first-touch I/O/codegen doesn't
                # land on whichever entry scans a table first (semdedup
                # read 7.3 s cold vs 0.75 s steady before this)
                _warm_session(spark, cpus)
                for t in ("documents", "embeddings", "events",
                          "lineitem"):
                    p = os.path.join(sf_dir, f"{t}.parquet")
                    if os.path.exists(p):
                        spark.read.parquet(p).count()
                for name in CONTRACT_BENCH:
                    fn = contract.QUERIES[name]
                    t0 = time.time()
                    fn(spark, sf_dir).collect()
                    sec = round(time.time() - t0, 4)
                    queries[name] = min(queries.get(name, sec), sec)
                    # several contract queries .cache() their shared
                    # subtrees (tf, shingles); drop them between
                    # queries so one session running the whole list
                    # doesn't accumulate dead cached partitions
                    spark.catalog.clearCache()
            finally:
                spark.stop()

        contract_pass()
        head_pair("d")  # fourth spread sample
        spark = get_spark("bench-curation", master=f"local[{cpus}]",
                          shuffle_partitions=cpus * 2)

        # -- 3b. curation pipeline stage timings (jobs/clean_corpus
        # surface): the composed decontam -> line-dedup -> PII -> cap
        # run as staged commits; per-stage seconds come from the stage
        # manifests so regressions in the curation family get caught
        # the way index-build ones are
        from modern_search_engines_spark.plans.clean import clean_corpus
        docs_tbl = spark.read.parquet(os.path.join(sf_dir,
                                                   "documents.parquet"))
        evalset = docs_tbl.orderBy("doc_id").limit(20).select("text")
        clean_dir = os.path.join(work, "clean")
        t0 = time.time()
        res = clean_corpus(spark, docs_tbl, clean_dir, verbose=False,
                           evalset=evalset, drop_dup_lines=True,
                           scrub_pii=True, per_source_cap=200)
        queries["curation_pipeline_sec"] = round(time.time() - t0, 4)
        for st in ("doc_stats", "doc_status", "clean", "curated"):
            m = res["writer"].manifest(st) or {}
            if "seconds" in m:
                queries[f"curation_{st}_sec"] = m["seconds"]
        shutil.rmtree(clean_dir, ignore_errors=True)
        spark.stop()

        head_pair("e")  # fifth spread sample

        contract_pass()  # second per-entry sample, fresh session,
        # ~15-20 min after the first — queries[] keeps the min

        # final spread sample, then the headline metrics from the 6
        # spread-out floors
        head_pair("f")

        # corroboration-triggered extra sampling: the headline is a
        # FLOOR (min per level), so what matters is whether the minimum
        # is corroborated — a second sample within 10% says the min sits
        # near the machine's true floor rather than being the one sample
        # that escaped a degraded phase. While either level's min is
        # uncorroborated, add a pair (up to FOUR — an 8-pair run on
        # 2026-08-19 ended with its lo floor still uncorroborated, its
        # hi floor stuck in a degraded phase 8% above other runs' floors,
        # and the ratio biased low as a result; min-estimators only
        # converge to the true floor with more draws). Triggered by
        # sample agreement, never by the ratio's value, so it adds
        # precision without optional stopping on the metric itself. (A
        # plain max/min variance trigger fires on EVERY run in this
        # sandbox's weather — measured spreads 1.4-1.6 across 30 minutes
        # — and just burns 7 minutes re-measuring an already-
        # corroborated min.)
        def _uncorroborated(v: list[float]) -> bool:
            s = sorted(v)
            return s[1] / s[0] > 1.10
        for extra in ("g", "h", "i", "j"):
            if not (_uncorroborated(samples["lo"])
                    or _uncorroborated(samples["hi"])):
                break
            head_pair(extra)
        # raw samples go to a TOP-LEVEL key (the queries map stays
        # scalar-valued for the driver's parser); n_pairs lands in
        # queries so cross-round tables can cite the sample count
        queries["headline_n_pairs"] = len(samples["lo"])

        t_lo, t_hi = min(samples["lo"]), min(samples["hi"])
        th_lo, th_hi = n_pages / t_lo, n_pages / t_hi
        eff = (th_hi / th_lo) / (hi / lo)
        ceiling = machine_ceiling(lo, hi)
        queries[f"index_build_local{lo}_sec"] = round(t_lo, 3)
        queries[f"index_build_local{hi}_sec"] = round(t_hi, 3)
        queries[f"index_docs_per_sec_local{lo}"] = round(th_lo, 1)
        queries[f"index_docs_per_sec_local{hi}"] = round(th_hi, 1)
        queries["scaling_efficiency"] = round(eff, 3)
        queries["machine_parallel_ceiling"] = round(ceiling, 3)
        queries["scaling_efficiency_vs_ceiling"] = round(
            min(eff / ceiling, 1.0), 3) if ceiling > 0 else 0.0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = time.time() - t_start
    print(json.dumps({
        "metric": "index_build+bm25_query bench "
                  f"({n_pages} synthetic pages; N->4N cores scaling)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "headline_samples": {k: [round(s, 1) for s in v]
                             for k, v in samples.items()},
        "sf": sf,
    }))


if __name__ == "__main__":
    sys.exit(main())
