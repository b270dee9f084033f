"""StageWriter guard rails:

* schema-fingerprint resume — a complete stage whose recorded schema no
  longer matches what the current code would produce is rebuilt instead
  of being resumed (which would surface later as an unresolved-column
  AnalysisException in a downstream stage);
* layout guard — switching a stage between chunked and flat layouts
  clears the stage dir rather than mixing part-files, in both
  directions;
* chunked input-side filtering — each chunk's extraction job scans only
  its url-hash range of the INPUT (the chunk predicate reaches the
  parquet/source scan, not the MapInPandas output).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from modern_search_engines_spark.sources import tables as tbl

MANIFEST = tbl.MANIFEST


def _df(spark, n=20):
    return spark.range(n).select(
        F.concat(F.lit("https://site.example/p"), F.col("id"))
        .alias("url"),
        (F.col("id") * 2).alias("v"))


def test_schema_change_triggers_rebuild(spark, tmp_path):
    base = str(tmp_path)
    sw = tbl.StageWriter(spark, base, verbose=False)
    sw.write_stage(_df(spark), "s")
    first = sw.manifest("s")["commit_id"]

    # same schema resumes
    sw.write_stage(_df(spark), "s")
    assert sw.manifest("s")["commit_id"] == first

    # pre-upgrade stage (different schema) must rebuild, not resume
    upgraded = _df(spark).withColumn("extra", F.lit(1))
    out = sw.write_stage(upgraded, "s")
    assert sw.manifest("s")["commit_id"] != first
    assert "extra" in out.columns


def test_params_change_triggers_rebuild(spark, tmp_path):
    sw = tbl.StageWriter(spark, str(tmp_path), verbose=False)
    sw.write_stage(_df(spark), "s", params={"knob": 1})
    first = sw.manifest("s")["commit_id"]
    sw.write_stage(_df(spark), "s", params={"knob": 1})
    assert sw.manifest("s")["commit_id"] == first
    sw.write_stage(_df(spark), "s", params={"knob": 2})
    assert sw.manifest("s")["commit_id"] != first


def test_layout_switch_clears_stale_files(spark, tmp_path):
    base = str(tmp_path)
    sw = tbl.StageWriter(spark, base, verbose=False)
    ident = lambda d: d  # noqa: E731

    # flat -> chunked: old flat part-files must not survive next to
    # chunk dirs (they'd be double-counted by a chunk=* read)
    sw.write_stage(_df(spark), "s")
    flat_files = set(os.listdir(os.path.join(base, "s")))
    assert any(f.endswith(".parquet") for f in flat_files)
    out = sw.write_stage_chunked(_df(spark), ident, "s", n_chunks=3)
    now = set(os.listdir(os.path.join(base, "s")))
    assert not any(f.endswith(".parquet") for f in now)
    assert out.count() == 20

    # chunked -> flat: must rebuild flat (a naive resume would read the
    # chunked dir and surface a spurious 'chunk' partition column)
    out2 = sw.write_stage(_df(spark), "s")
    assert "chunk" not in out2.columns
    assert out2.count() == 20
    assert "chunk=0" not in set(os.listdir(os.path.join(base, "s")))


def test_chunk_predicate_reaches_input_scan(spark, tmp_path):
    """The chunk filter must apply BEFORE the transform: a transform
    that asserts it never sees out-of-chunk rows passes only if the
    input is pre-filtered (output-side filtering would feed it all
    rows and discard afterwards)."""
    sw = tbl.StageWriter(spark, str(tmp_path), verbose=False)
    n_chunks = 4

    def transform(df):
        chunk_of = F.pmod(F.xxhash64(F.col("url")), F.lit(n_chunks))
        return df.withColumn("chunk_of", chunk_of)

    out = sw.write_stage_chunked(_df(spark), transform, "s",
                                 n_chunks=n_chunks)
    assert out.count() == 20
    # every row's recomputed chunk id equals the chunk dir it was
    # written to — the predicate ran on the input side
    for c in range(n_chunks):
        part = spark.read.parquet(
            str(tmp_path / "s" / f"chunk={c}"))
        bad = part.where(F.col("chunk_of") != c).count()
        assert bad == 0


def test_old_manifest_without_schema_rebuilds(spark, tmp_path):
    """Round-1 manifests predate the schema field in lineage — resuming
    them under current code rebuilds downstream stages once instead of
    mis-resuming."""
    base = str(tmp_path)
    sw = tbl.StageWriter(spark, base, verbose=False)
    sw.write_stage(_df(spark), "s")
    mpath = os.path.join(base, "s", MANIFEST)
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    first = m["commit_id"]
    sw.write_stage(_df(spark), "s")
    assert sw.manifest("s")["commit_id"] != first


def _run_queries_job():
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs", "run_queries.py")
    spec = importlib.util.spec_from_file_location("jobs_run_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_n_buckets_change_rebuilds_postings(spark, tmp_path, monkeypatch):
    """Resuming the same index dir with a different n_buckets must
    rebuild the bucket-keyed stages (their params record n_buckets) and
    re-stamp corpus_stats.json — and every reader (the run_queries job,
    the hot tier, SearchService) must prune with that recorded count,
    answering exactly like a 64-bucket build of the same pages."""
    import glob

    import pyspark.sql

    from modern_search_engines_spark import corpus, session
    from modern_search_engines_spark.plans.build import (
        build_persistent_index, load_index,
    )
    from modern_search_engines_spark.plans.hot import HotSearcher
    from modern_search_engines_spark.plans.serve import SearchService

    out = str(tmp_path / "idx")
    pages = corpus.pages_df(spark, 120, seed=3, num_partitions=4)
    build_persistent_index(spark, pages, out, verbose=False, n_buckets=8)
    buckets8 = {d for d in os.listdir(os.path.join(
        out, "postings_compressed")) if d.startswith("bucket=")}
    assert len(buckets8) > 4

    build_persistent_index(spark, pages, out, verbose=False, n_buckets=4)
    buckets4 = {d for d in os.listdir(os.path.join(
        out, "postings_compressed")) if d.startswith("bucket=")}
    assert buckets4 <= {f"bucket={i}" for i in range(4)}
    with open(os.path.join(out, "corpus_stats.json")) as f:
        assert json.load(f)["n_buckets"] == 4
    assert load_index(spark, out)["stats"]["n_buckets"] == 4

    ref = str(tmp_path / "idx64")
    build_persistent_index(spark, pages, ref, verbose=False, n_buckets=64)
    queries = [("q1", "castle museum"), ("q2", "university lecture"),
               ("q3", "food river hotel")]
    qpath = tmp_path / "queries.tsv"
    qpath.write_text("".join(f"{q}\t{t}\n" for q, t in queries))

    # the job runs in this process on the shared session: keep its
    # closing spark.stop() from ending the session for later tests
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(pyspark.sql.SparkSession, "stop", lambda self: None)
    job = _run_queries_job()

    def run_file(index_dir: str) -> list[tuple]:
        run_dir = index_dir + "_run"
        assert job.main(["--index", index_dir, "--queries", str(qpath),
                         "--out", run_dir, "--k", "10",
                         "--method", "wand"]) == 0
        rows = []
        for part in glob.glob(os.path.join(run_dir, "part-*.csv")):
            with open(part) as f:
                rows += [tuple(line.split("\t"))
                         for line in f.read().splitlines()]
        return sorted(rows)

    def same(got, want):
        assert [g[:-1] for g in got] == [w[:-1] for w in want]
        assert [float(g[-1]) for g in got] == pytest.approx(
            [float(w[-1]) for w in want], rel=1e-9)
        assert want

    same(run_file(out), run_file(ref))
    hot, hot_ref = HotSearcher(out), HotSearcher(ref)
    svc, svc_ref = SearchService(spark, out), SearchService(spark, ref)
    for _, text in queries:
        same(hot.search(text, top_k=10), hot_ref.search(text, top_k=10))
        same([(d["url_hash"], d["score"])
              for d in svc.search(text, top_k=10, spell_correct=False)],
             [(d["url_hash"], d["score"])
              for d in svc_ref.search(text, top_k=10,
                                      spell_correct=False)])
