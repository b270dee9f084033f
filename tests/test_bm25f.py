"""Planted-case tests for the BM25F kernel (operators/bm25f.score). The
sf0.01 hash-twin check lives in test_contract_oracle.py (entry
bm25f_topk); these pin the algebra on tiny inputs where the expected
score is computed by hand."""
import pytest

from modern_search_engines_spark.operators import bm25f

K1, B = 1.5, 0.75


def _sat(wtf, wdl, avg_wdl, k1=K1, b=B):
    return wtf * (k1 + 1) / (wtf + k1 * (1 - b + b * wdl / avg_wdl))


def _frames(spark, body, anchor, norms, idf, terms):
    return (
        spark.createDataFrame(terms, "qid string, term string, mult double"),
        spark.createDataFrame(body, "doc_id long, term string, tf long"),
        spark.createDataFrame(
            anchor, "doc_id long, term string, anchor_tf long"),
        spark.createDataFrame(
            norms, "doc_id long, doc_len long, anchor_len long"),
        spark.createDataFrame(idf, "term string, idf double"))


def _scores(spark, *tables):
    return {(r.qid, r.doc_id): r.score
            for r in bm25f.score(*_frames(spark, *tables)).collect()}


def test_combine_fields_coalesces_missing_entries(spark):
    # doc 1 holds "a" in both fields and "b" in the body only; doc 2
    # holds "c" in the anchor only: a missing field entry counts 0
    norms = [(1, 3, 3), (2, 0, 1)]
    avg = (3 + 2 * 3 + 2 * 1) / 2
    got = _scores(spark, [(1, "a", 2), (1, "b", 1)],
                  [(1, "a", 3), (2, "c", 1)], norms,
                  [("a", 1.0), ("b", 1.0), ("c", 1.0)],
                  [("q", "a", 1.0), ("q", "b", 1.0), ("q", "c", 1.0)])
    assert got == pytest.approx({
        ("q", 1): _sat(2 + 6.0, 9.0, avg) + _sat(1.0, 9.0, avg),
        ("q", 2): _sat(2.0, 2.0, avg)})


def test_combine_doc_lengths_full_outer(spark):
    # wdl = W_BODY·doc_len + W_ANCHOR·anchor_len per norms row, and
    # avg_wdl averages every norms row, scored or not
    norms = [(1, 10, 0), (2, 4, 2), (3, 0, 5)]
    avg = (10.0 + (4 + 4.0) + 10.0) / 3
    got = _scores(spark, [(1, "t", 1), (2, "t", 1)], [(3, "t", 1)], norms,
                  [("t", 0.5)], [("q", "t", 1.0)])
    assert got == pytest.approx({
        ("q", 1): 0.5 * _sat(1.0, 10.0, avg),
        ("q", 2): 0.5 * _sat(1.0, 8.0, avg),
        ("q", 3): 0.5 * _sat(2.0, 10.0, avg)})


def test_score_matches_hand_computation(spark):
    # one query term "t" weighted 1 and 3 by two queries, two docs
    got = _scores(spark, [(1, "t", 4), (2, "t", 1), (2, "u", 9)], [],
                  [(1, 4, 0), (2, 10, 0)], [("t", 0.7), ("u", 0.1)],
                  [("q1", "t", 1.0), ("q3", "t", 3.0)])
    avg = 7.0
    exp = {("q1", 1): 0.7 * _sat(4.0, 4.0, avg),
           ("q1", 2): 0.7 * _sat(1.0, 10.0, avg)}
    exp.update({("q3", d): 3.0 * s for (_, d), s in exp.items()})
    assert got == pytest.approx(exp)


def test_zero_anchor_weight_degenerates_to_plain_bm25(spark, monkeypatch):
    # with anchor weight 0 the combined pipeline must reproduce
    # single-field BM25 exactly (same saturation, same normalizer)
    monkeypatch.setattr(bm25f, "W_ANCHOR", 0.0)
    avg_wdl = (4 + 1) / 2
    got = _scores(spark, [(1, "x", 3), (1, "y", 1), (2, "x", 1)],
                  [(1, "x", 50)], [(1, 4, 50), (2, 1, 0)], [("x", 0.4)],
                  [("q", "x", 1.0)])
    assert got == pytest.approx({("q", 1): 0.4 * _sat(3.0, 4.0, avg_wdl),
                                 ("q", 2): 0.4 * _sat(1.0, 1.0, avg_wdl)})


def test_saturation_applied_after_field_combine(spark):
    # the defining BM25F property: stuffing a term into the anchor
    # field must NOT escape the tf ceiling — score(combined tf 1+9)
    # < score(tf 1) + score(tf 9) under the same normalizer
    avg = 10.0
    combined = _sat(1.0 + 9.0, avg, avg)
    summed = _sat(1.0, avg, avg) + _sat(9.0, avg, avg)
    assert combined < summed
    # and the kernel really computes the combined form: body tf 2 and
    # anchor tf 4 (weight 2) combine to wtf 10 before the saturation
    got = _scores(spark, [(1, "t", 2)], [(1, "t", 4)], [(1, 2, 4)],
                  [("t", 1.0)], [("q", "t", 1.0)])
    assert got == pytest.approx({("q", 1): combined})
