"""Per-partition (chunk-level) checkpointing of the extraction stage:
kill mid-stage, resume completes only the missing chunks, and the final
index equals an unchunked build's."""

import pytest

from modern_search_engines_spark import corpus
from modern_search_engines_spark.plans.build import build_persistent_index
from modern_search_engines_spark.sources import tables as tbl

N, SEED, CHUNKS = 30, 11, 4


def _pages(spark):
    return corpus.pages_df(spark, N, seed=SEED,
                           num_partitions=2).drop("text", "lang")


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_chunk_resume_after_kill(spark, tmp_path, monkeypatch):
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")
    clean = build_persistent_index(spark, _pages(spark), clean_dir,
                                   verbose=False)

    # kill while writing chunk 2 of the extraction stage
    import pyspark.sql.readwriter as rw
    orig_parquet = rw.DataFrameWriter.parquet
    calls = {"n": 0}

    def bomb(self, path, **kw):
        if "chunk=2" in path and "crash" in path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("simulated kill mid-chunk")
        return orig_parquet(self, path, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", bomb)
    with pytest.raises(RuntimeError, match="simulated kill"):
        build_persistent_index(spark, _pages(spark), crash_dir,
                               n_extract_chunks=CHUNKS, verbose=False)

    sw = tbl.StageWriter(spark, crash_dir, verbose=False)
    assert sw.is_complete("extracted/chunk=0")
    assert sw.is_complete("extracted/chunk=1")
    assert not sw.is_complete("extracted/chunk=2")
    pre = {c: sw.manifest(f"extracted/chunk={c}")["commit_id"]
           for c in (0, 1)}

    # resume (bomb disarmed by call counter): completed chunks keep
    # their commit ids; the rest are built; final tables match clean
    resumed = build_persistent_index(spark, _pages(spark), crash_dir,
                                     n_extract_chunks=CHUNKS,
                                     verbose=False)
    sw = tbl.StageWriter(spark, crash_dir, verbose=False)
    for c in (0, 1):
        assert sw.manifest(f"extracted/chunk={c}")["commit_id"] == pre[c]
    for c in range(CHUNKS):
        assert sw.is_complete(f"extracted/chunk={c}")

    for stage in ("tf", "term_stats", "postings_compressed", "docs"):
        assert _rows(resumed[stage]) == _rows(clean[stage]), stage
    assert resumed["stats"] == clean["stats"]

    # chunked extracted table holds every row of the unchunked one
    assert (_rows(resumed["extracted"].select("url", "doc_id"))
            == _rows(clean["extracted"].select("url", "doc_id")))

    # the serving tier's pyarrow summarize reads the chunk=<c>/ layout
    from pyspark.sql import functions as F

    from modern_search_engines_spark.plans.hot import HotSearchService
    doc_id = (resumed["extracted"].where(F.length("text") > 300)
              .orderBy("doc_id").first()["doc_id"])
    summary = HotSearchService(crash_dir).summarize(doc_id)
    assert isinstance(summary, str) and summary


def test_chunked_noop_resume_preserves_stage_manifest(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_persistent_index(spark, _pages(spark), out,
                           n_extract_chunks=CHUNKS, verbose=False)
    sw = tbl.StageWriter(spark, out, verbose=False)
    stage_commit = sw.manifest("extracted")["commit_id"]
    build_persistent_index(spark, _pages(spark), out,
                           n_extract_chunks=CHUNKS, verbose=False)
    assert (tbl.StageWriter(spark, out, verbose=False)
            .manifest("extracted")["commit_id"] == stage_commit)
