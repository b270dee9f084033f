"""Physical-plan assertions — the 100 TB story must be visible in the
plans Catalyst actually produces, not just in docstrings:

* query path: postings scan is PARTITION-PRUNED to the query terms'
  buckets, and the query-terms side is BROADCAST (never shuffles the
  postings);
* build path: tf aggregation has a map-side partial (partial_count
  before the exchange);
* extraction: no python UDF appears after the first projection of the
  html column (the binary column never survives past the map stage);
* near-dup joins never degrade to a cartesian product.
"""

from pyspark.sql import functions as F

from modern_search_engines_spark import corpus
from modern_search_engines_spark.functions import hashing
from modern_search_engines_spark.operators import indexing, query, wand
from modern_search_engines_spark.plans.build import (
    build_persistent_index, load_index)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_query_path_pruned_and_broadcast(spark, tmp_path):
    out = str(tmp_path / "idx")
    pages = corpus.pages_df(spark, 60, seed=7, num_partitions=4)
    idx = build_persistent_index(spark, pages, out, verbose=False)
    idx = load_index(spark, out)

    queries = [("q1", "castle museum")]
    terms = [r[1] for r in query.query_term_rows(queries)]
    n_buckets = idx["stats"]["n_buckets"]
    # the latency-critical scan is postings_compressed (the WAND path):
    # its bucket predicate must reach the file scan as PARTITION pruning
    comp_pruned = hashing.prune(idx["postings_compressed"], terms,
                                n_buckets)
    comp_plan = _plan(comp_pruned)
    assert ("PartitionFilters" in comp_plan
            and "bucket" in comp_plan), comp_plan

    # the WAND batch prunes the same scan and broadcasts the tiny terms
    # side — the postings are never shuffled for the join
    plan = _plan(wand.run_wand(spark, queries, idx["postings_compressed"],
                               idx["doc_dim"], n_buckets=n_buckets))
    assert "PartitionFilters: [" in plan, plan
    assert "bucket" in plan.split("PartitionFilters: [", 1)[1] \
        .split("]", 1)[0], plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_tf_has_partial_aggregation(spark):
    pages = corpus.pages_df(spark, 30, seed=7, num_partitions=2)
    ext = indexing.extract_pages(pages, ngram_max=2)
    tf = indexing.build_tf(indexing.filter_index_docs(ext), ngram_max=2)
    plan = _plan(tf)
    # two-phase hash aggregate: partial_count before the exchange
    assert "partial_count" in plan, plan


def test_html_never_survives_extraction(spark):
    pages = corpus.pages_df(spark, 10, seed=7, num_partitions=2)
    ext = indexing.extract_pages(pages)
    downstream = ext.select("doc_id", "single_tokens")
    opt = _optimized(downstream)
    # the binary column is consumed inside the map stage; downstream
    # projections must not reference it after the mapInPandas node
    final_project = opt.split("MapInPandas")[0]
    assert "html" not in final_project.lower().split("mapinpandas")[0]\
        .split("arrow")[0].split("project")[-1]


def test_doc_colocated_joins_one_exchange(spark, tmp_path):
    """tf ⋈ doc_len ⋈ doc_fields are all doc_id-keyed: the planner must
    not insert more than one exchange of the tf side for those joins."""
    pages = corpus.pages_df(spark, 40, seed=7, num_partitions=2)
    ext = indexing.filter_index_docs(indexing.extract_pages(pages))
    stats = indexing.corpus_stats(ext)
    tf = indexing.build_tf(ext)
    doc_len = indexing.build_doc_len(tf)
    doc_fields = indexing.build_doc_fields(ext, stats["avg_date_ts"])
    term_stats = indexing.build_term_stats(tf, stats["N"])
    bm25 = indexing.build_bm25_postings(tf, term_stats, doc_len,
                                        doc_fields, stats["avgdl"],
                                        n_buckets=64)
    plan = _plan(bm25)
    # sanity: it's a join plan that does not cartesian
    assert "CartesianProduct" not in plan


def test_compressed_postings_two_exchanges(spark):
    """The posting merge must shuffle exactly twice: once on the salted
    (term, bucket, salt) key (head-term skew spread) and once on bucket —
    phase 2's groupBy(term,bucket) and the partitioned write both reuse
    the bucket exchange (hash(bucket) satisfies their clustering)."""
    from modern_search_engines_spark.operators import postings

    # exchange-free flat-postings input isolates the merge subplan
    flat = spark.createDataFrame(
        [(f"t{i % 7}", f"{i:032x}", float(i)) for i in range(50)],
        "term string, doc_id string, score double")
    comp = postings.build_compressed_postings(flat, n_buckets=64)
    plan = _plan(comp)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, f"{n_exchanges} exchanges:\n{plan}"


def test_clean_pipeline_plan_shapes(spark):
    """Cleaning pipeline (plans/clean.py): the hot-shingle guard must be
    a BROADCAST anti-join (the hot list is tiny by definition), and the
    classification must contain no cartesian product anywhere."""
    from pyspark.sql import Row

    from modern_search_engines_spark.plans.clean import (
        classify_docs, shingle_table)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"the doc {i} with some shared words "
                            f"and the body {i}") for i in range(12)])
    sh = shingle_table(docs, max_shingle_df=3)
    sh_plan = _plan(sh)
    assert "BroadcastExchange" in sh_plan, sh_plan
    assert "CartesianProduct" not in sh_plan

    status = classify_docs(docs, min_tokens=2, jaccard_threshold=0.5,
                           max_shingle_df=3)
    plan = _plan(status)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontam_probe_is_broadcast_semi_join(spark):
    """The corpus-side membership probe must be a broadcast semi-join —
    the 100-TB side never shuffles for the eval-set check."""
    from modern_search_engines_spark.operators import decontam
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in
         range(50)], "doc_id long, text string")
    ev = spark.createDataFrame([("alpha beta gamma delta epsilon zeta",)],
                               "text string")
    plan = _plan(decontam.find_contaminated(docs, ev, n=6))
    assert "BroadcastExchange" in plan, plan
    assert "LeftSemi" in plan, plan


def test_fuzzy_decontam_eval_side_is_broadcast(spark):
    """Fuzzy decontam's candidate probe and jaccard verify must
    broadcast the eval side (bands, shingles, sizes) — the corpus side
    never shuffles to FIND candidates, and no join degenerates to a
    cartesian/nested-loop product."""
    from modern_search_engines_spark.operators import decontam
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in
         range(50)], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "eval_id long, text string")
    plan = _plan(decontam.find_contaminated_fuzzy(docs, ev, threshold=0.2))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_packing_has_no_corpus_wide_window(spark):
    """The global token cumsum must never be a single-partition window:
    the only ORDER BY windows allowed are partitioned by pid (parallel)
    or by the fold-proof constant key over the P-row partition totals."""
    from modern_search_engines_spark.operators import packing
    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(100)], "doc_id long, text string")
    plan = _plan(packing.pack_sequences(docs, seq_len=16))
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        # every window spec must carry a partition expression before the
        # ordering column (an unpartitioned spec starts with the order col)
        assert ("pid" in spec or "pmod" in spec or "_w" in spec), plan
    # the pid-stamped base is PINNED (eager localCheckpoint) before the
    # two cumsum subtrees branch off it, so the downstream plan reads a
    # materialized RDD — the range exchange ran once, inside the
    # checkpoint, and can never resample different boundaries per branch
    assert "Scan ExistingRDD" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_cap_per_stratum_prefilters_before_rank(spark):
    """The over-cap branch must filter on the hash threshold BEFORE its
    rank window — the window's input is margin-bounded, not stratum-
    sized (the naive per-domain row_number sorts a hot domain's rows in
    one task)."""
    from modern_search_engines_spark.operators import sampling
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)],
        "doc_id long, source string")
    out = sampling.cap_per_stratum(docs, cap=5, strata_col="source")
    plan = _optimized(out)
    # the physical tree contains a Filter on __sk below the Window
    win_at = plan.find("Window")
    assert win_at != -1, plan
    assert "__sk" in plan[win_at:], plan


def test_c4_and_pii_are_map_only(spark):
    """The page-rule gates must be ZERO-shuffle: one projection chain,
    no Exchange anywhere in the physical plan."""
    from modern_search_engines_spark.operators import c4filters, urlnorm
    docs = spark.createDataFrame(
        [(i, f"some line {i}.\nother line {i}") for i in range(20)],
        ["doc_id", "text"])
    plan = _plan(c4filters.c4_quality_filters(docs))
    assert "Exchange" not in plan, plan
    urls = spark.createDataFrame(
        [(i, f"http://example.com/{i}") for i in range(20)],
        ["doc_id", "url"])
    cplan = _plan(urls.select(
        urlnorm.canonical_url_expr("url").alias("c")))
    assert "Exchange" not in cplan, cplan


def test_lm_and_crossdedup_no_cartesian(spark):
    from modern_search_engines_spark.operators import crossdedup, lmfilter
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} w{(i + 2) % 5}")
         for i in range(30)], ["doc_id", "text"])
    plan = _plan(lmfilter.lm_score(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    seen = docs.where("doc_id % 2 = 1")
    new = docs.where("doc_id % 2 = 0")
    dplan = _plan(crossdedup.dedup_against(new, seen,
                                           jaccard_threshold=0.2))
    assert "CartesianProduct" not in dplan, dplan
    assert "BroadcastNestedLoopJoin" not in dplan, dplan


def test_perplexity_buckets_thresholds_broadcast(spark):
    """The per-group thresholds must come back as a BROADCAST join —
    never a corpus-wide rank window."""
    from modern_search_engines_spark.operators import lmfilter
    scored = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", float(i)) for i in range(40)],
        ["doc_id", "lang", "nll"])
    b = lmfilter.perplexity_buckets(scored)
    plan = _plan(b)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan
