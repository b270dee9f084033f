"""Resume correctness: kill after stage N, re-run, final tables identical
to an uninterrupted run (SURVEY.md §5.6, north rule "resumable from
per-partition checkpoints")."""

import pytest

from modern_search_engines_spark import corpus
from modern_search_engines_spark.plans.build import build_persistent_index
from modern_search_engines_spark.sources import tables as tbl

N, SEED = 25, 5


def _pages(spark):
    return corpus.pages_df(spark, N, seed=SEED,
                           num_partitions=2).drop("text", "lang")


def _table_rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_resume_after_simulated_kill(spark, tmp_path, monkeypatch):
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")

    clean = build_persistent_index(spark, _pages(spark), clean_dir,
                                   verbose=False)

    # simulated kill: die when the postings_compressed stage starts
    orig = tbl.StageWriter.write_stage

    def bomb(self, df, name, **kw):
        if name == "postings_compressed":
            raise RuntimeError("simulated kill")
        return orig(self, df, name, **kw)

    monkeypatch.setattr(tbl.StageWriter, "write_stage", bomb)
    with pytest.raises(RuntimeError, match="simulated kill"):
        build_persistent_index(spark, _pages(spark), crash_dir,
                               verbose=False)
    monkeypatch.setattr(tbl.StageWriter, "write_stage", orig)

    # stages before the kill are committed, later ones absent
    sw = tbl.StageWriter(spark, crash_dir, verbose=False)
    assert sw.is_complete("extracted")
    assert sw.is_complete("tf")
    assert not sw.is_complete("postings_compressed")
    pre_commit = sw.manifest("extracted")["commit_id"]

    # resume: completed stages must be skipped (same commit id), and the
    # final tables must equal the uninterrupted run's
    resumed = build_persistent_index(spark, _pages(spark), crash_dir,
                                     verbose=False)
    assert (tbl.StageWriter(spark, crash_dir, verbose=False)
            .manifest("extracted")["commit_id"] == pre_commit)

    for stage in ("term_stats", "postings_compressed", "doc_dim", "docs"):
        assert _table_rows(resumed[stage]) == _table_rows(clean[stage]), stage
    assert resumed["stats"] == clean["stats"]


def test_stage_metrics_emitted(spark, tmp_path):
    out = str(tmp_path / "idx")
    res = build_persistent_index(spark, _pages(spark), out, verbose=False)
    metrics = res["writer"].metrics()
    names = {m["name"] for m in metrics}
    assert {"extracted", "tf", "term_stats", "postings_compressed",
            "docs"} <= names
    for m in metrics:
        assert m["rows"] >= 0 and m["bytes"] > 0 and m["seconds"] >= 0
        assert m["status"] == "complete"
    # lineage recorded
    tf_m = [m for m in metrics if m["name"] == "tf"][0]
    assert "extracted" in tf_m["lineage"]
