"""Positional-postings family: phrase / proximity / conjunctive matching
(operators/phrase.py). Planted cases with hand-computed answers plus a
randomized brute-force cross-check."""

import random
import re

from pyspark.sql import functions as F

from modern_search_engines_spark.operators import phrase


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def _ptok(spark, texts):
    docs = _docs(spark, texts)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    return phrase.positional_postings(docs, toks)


def _occurrences(ptok, ph):
    """(doc_id, ptf) of one phrase through the batch counter."""
    return phrase.phrase_occurrences_batch(ptok, [("q", ph)]).select(
        "doc_id", "ptf")


def _ptf_map(spark, texts, ph):
    ptok = _ptok(spark, texts)
    return {r["doc_id"]: r["ptf"] for r in _occurrences(ptok, ph).collect()}


def test_phrase_basic_and_overlap(spark):
    texts = ["a b a b a", "x a a y", "b b b", "a", ""]
    assert _ptf_map(spark, texts, ["a", "b"]) == {0: 2}
    assert _ptf_map(spark, texts, ["b", "a"]) == {0: 2}
    # overlapping occurrences both count: anchors 1 and 3 in doc 0
    assert _ptf_map(spark, texts, ["a", "b", "a"]) == {0: 2}


def test_phrase_repeated_term(spark):
    texts = ["a b a b a", "x a a y", "a a a"]
    # consecutive identical tokens: doc1 has one "a a", doc2 has two
    assert _ptf_map(spark, texts, ["a", "a"]) == {1: 1, 2: 2}
    assert _ptf_map(spark, texts, ["a", "a", "a"]) == {2: 1}


def test_phrase_single_term_is_tf(spark):
    texts = ["a b a", "b b"]
    assert _ptf_map(spark, texts, ["a"]) == {0: 2}


def test_phrase_longer_than_doc(spark):
    texts = ["a b"]
    assert _ptf_map(spark, texts, ["a", "b", "a"]) == {}


def test_proximity_window(spark):
    texts = [
        "data z z query",      # span 4 -> window 4 yes, window 3 no
        "query data",          # adjacent, either order
        "data z z z z query",  # span 6
        "data only here",      # missing one term
        "query only here",
    ]
    ptok = _ptok(spark, texts)

    def ids(window):
        return sorted(r["doc_id"] for r in phrase.proximity_match(
            ptok, ["data", "query"], window).collect())

    assert ids(4) == [0, 1]
    assert ids(3) == [1]
    assert ids(2) == [1]
    assert ids(6) == [0, 1, 2]


def test_proximity_duplicate_terms_collapse(spark):
    # a duplicated query term collapses to one distinct term: any
    # occurrence satisfies any window
    texts = ["z data z", "no match"]
    ptok = _ptok(spark, texts)
    got = sorted(r["doc_id"] for r in phrase.proximity_match(
        ptok, ["data", "data"], 1).collect())
    assert got == [0]


def test_conjunctive_match(spark):
    texts = ["a b c", "a b", "c a b z", "z"]
    docs = _docs(spark, texts)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    tf = (docs.select("doc_id", F.explode(toks).alias("term"))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    got = sorted(r["doc_id"] for r in phrase.conjunctive_match(
        tf, ["a", "b", "c"]).collect())
    assert got == [0, 2]
    # duplicate query terms collapse to the distinct set
    got2 = sorted(r["doc_id"] for r in phrase.conjunctive_match(
        tf, ["a", "a", "b"]).collect())
    assert got2 == [0, 1, 2]


def _brute_phrase(tokens, ph):
    n = 0
    for i in range(len(tokens) - len(ph) + 1):
        if tokens[i:i + len(ph)] == ph:
            n += 1
    return n


def _brute_prox(tokens, terms, window):
    tset = set(terms)
    pos = {t: [i for i, x in enumerate(tokens) if x == t] for t in tset}
    if any(not v for v in pos.values()):
        return False
    for i in range(len(tokens)):
        lo, hi = i, i + window - 1
        if all(any(lo <= p <= hi for p in v) for v in pos.values()):
            return True
    return False


def test_randomized_vs_brute_force(spark):
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d"]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
             for _ in range(40)]
    toks = [t.split() if t else [] for t in texts]
    ptok = _ptok(spark, texts)

    for ph in (["a", "b"], ["b", "b"], ["c", "a", "d"]):
        got = {r["doc_id"]: r["ptf"]
               for r in _occurrences(ptok, ph).collect()}
        want = {i: _brute_phrase(tk, ph)
                for i, tk in enumerate(toks) if _brute_phrase(tk, ph) > 0}
        assert got == want, ph

    for terms, w in ((["a", "b"], 2), (["a", "b"], 4),
                     (["a", "b", "c"], 5)):
        got = sorted(r["doc_id"] for r in phrase.proximity_match(
            ptok, terms, w).collect())
        want = sorted(i for i, tk in enumerate(toks)
                      if _brute_prox(tk, terms, w))
        assert got == want, (terms, w)


def test_phrase_plan_broadcasts_offsets(spark):
    """The offsets side must broadcast (no shuffle of the postings for
    the tag join) and the phrase-term filter must sit below the join."""
    texts = ["a b c d"] * 8
    ptok = _ptok(spark, texts)
    plan = _occurrences(
        ptok, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_phrase_plan_lists_terms_in_sorted_order(spark):
    """The phrase-term filter's IN list is sorted, not in set order, so
    one phrase plans the same in every Python process."""
    words = ["f", "e", "d", "c", "b", "a"]
    ptok = _ptok(spark, [" ".join(words)])
    plan = _occurrences(
        ptok, words)._jdf.queryExecution().optimizedPlan().toString()
    in_lists = re.findall(r"term#\d+ IN \(([^)]*)\)", plan)
    assert in_lists, plan
    for listed in in_lists:
        assert listed.split(",") == sorted(words), plan


def test_batch_matches_per_phrase(spark):
    """One phrase_occurrences_batch pass over many phrases (different
    lengths, shared terms, repeated terms) must count every phrase
    exactly as the brute force does on its own."""
    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15)))
             for _ in range(30)]
    toks = [t.split() for t in texts]
    ptok = _ptok(spark, texts)
    phrases = [("q1", ["a", "b"]), ("q2", ["b", "b"]),
               ("q3", ["c", "a", "d"]), ("q4", ["a"])]
    batch = {(r["qid"], r["doc_id"]): r["ptf"]
             for r in phrase.phrase_occurrences_batch(
                 ptok, phrases).collect()}
    want = {(qid, i): _brute_phrase(tk, ph)
            for qid, ph in phrases for i, tk in enumerate(toks)
            if _brute_phrase(tk, ph) > 0}
    assert batch == want
