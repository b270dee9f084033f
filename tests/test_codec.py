"""Posting codec round-trip property tests (SURVEY.md §5.3,
BASELINE.md "Posting round-trip")."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from modern_search_engines_spark.functions import codec


def _roundtrip(ids, scores):
    blobs = codec.compress(np.asarray(ids, dtype=np.int64),
                           np.asarray(scores, dtype=np.float64))
    out_ids, out_scores = codec.decompress(blobs)
    np.testing.assert_array_equal(out_ids, np.asarray(ids, dtype=np.int64))
    np.testing.assert_array_equal(out_scores,
                                  np.asarray(scores, dtype=np.float64))
    return blobs


def test_empty():
    blobs = _roundtrip([], [])
    assert blobs["n"] == 0


def test_single():
    _roundtrip([42], [1.5])


def test_negative_ids():
    # xxhash64 doc_idx values are signed
    _roundtrip([-(2**62), -5, 0, 7, 2**62], [1, 2, 3, 4, 5])


def test_exact_block_boundaries():
    for n in (codec.BLOCK - 1, codec.BLOCK, codec.BLOCK + 1,
              3 * codec.BLOCK):
        ids = np.arange(n, dtype=np.int64) * 7 + 3
        scores = np.linspace(0.1, 9.9, n)
        _roundtrip(ids, scores)


def test_huge_gaps():
    _roundtrip([0, 1, 2**40, 2**40 + 1, 2**62], [1, 2, 3, 4, 5])


def test_rejects_unsorted():
    with pytest.raises(ValueError):
        codec.compress(np.array([3, 1], dtype=np.int64),
                       np.array([1.0, 2.0]))


def test_block_max_values():
    n = 2 * codec.BLOCK + 10
    ids = np.arange(n, dtype=np.int64)
    scores = np.arange(n, dtype=np.float64)
    blobs = codec.compress(ids, scores)
    bm = np.frombuffer(blobs["block_max"], dtype=np.float64)
    assert bm.tolist() == [codec.BLOCK - 1.0, 2 * codec.BLOCK - 1.0, n - 1.0]


def test_block_random_access():
    n = 5 * codec.BLOCK + 17
    rng = np.random.default_rng(0)
    ids = np.cumsum(rng.integers(1, 10**6, n)).astype(np.int64)
    scores = rng.random(n)
    blobs = codec.compress(ids, scores)
    full_ids, full_scores = codec.decompress(blobs)
    for bi in range(6):
        s, e = bi * codec.BLOCK, min((bi + 1) * codec.BLOCK, n)
        b_ids, b_scores = codec.decompress_block(blobs, bi)
        np.testing.assert_array_equal(b_ids, full_ids[s:e])
        np.testing.assert_array_equal(b_scores, full_scores[s:e])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-2**62, max_value=2**62),
                unique=True, max_size=600))
def test_roundtrip_property(ids):
    ids = sorted(ids)
    rng = np.random.default_rng(len(ids))
    _roundtrip(ids, rng.random(len(ids)))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=400))
def test_varint_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(arr), len(vals))
    np.testing.assert_array_equal(out, arr)


def test_merge_runs():
    a = (np.array([1, 5, 9], dtype=np.int64), np.array([.1, .5, .9]))
    b = (np.array([2, 6], dtype=np.int64), np.array([.2, .6]))
    c = (np.array([], dtype=np.int64), np.array([]))
    ids, scores = codec.merge_runs([a, b, c])
    assert ids.tolist() == [1, 2, 5, 6, 9]
    assert scores.tolist() == [.1, .2, .5, .6, .9]


def test_compression_actually_compresses():
    # dense ascending ids → ~1 byte/gap vs 8 bytes raw
    n = 10_000
    ids = np.arange(n, dtype=np.int64) * 3
    blobs = codec.compress(ids, np.ones(n))
    assert len(blobs["ids_blob"]) < n * 1.5


@given(st.lists(
    st.lists(st.integers(min_value=0, max_value=2**40),
             min_size=0, max_size=300, unique=True),
    min_size=1, max_size=20))
@settings(max_examples=40, deadline=None)
def test_compress_batch_byte_identical(batches):
    """compress_batch (cross-list vectorized) must emit byte-identical
    blobs to per-list compress for every list shape — empty, single-
    block (the vectorized path) and multi-block (the fallback)."""
    rng = np.random.default_rng(0)
    lists = []
    for ids in batches:
        a = np.sort(np.array(ids, dtype=np.int64))
        lists.append((a, rng.random(a.size)))
    got = codec.compress_batch(lists)
    for (ids, sc), b in zip(lists, got):
        ref = codec.compress(ids, sc)
        assert b == ref


def test_compress_batch_rejects_unsorted():
    good = (np.array([1, 5, 9], dtype=np.int64), np.ones(3))
    bad = (np.array([4, 2], dtype=np.int64), np.ones(2))
    with pytest.raises(ValueError):
        codec.compress_batch([good, bad])


@pytest.mark.parametrize("arrow_type", ["binary", "large_binary"])
def test_decompress_back_to_back_lists(arrow_type):
    """One ``decompress`` over an Arrow column's back-to-back blobs
    equals per-list ``decompress`` concatenated, for 60-bit ids (the
    hashed doc_idx range) and every block shape. An n = 0 list right
    after a multi-block one must not change that list's last block."""
    import pyarrow as pa

    rng = np.random.default_rng(7)
    sizes = [129, 0, 257, 0, 1, 128, 127, 0, 0, 257]
    blobs = []
    for n in sizes:
        ids = np.sort(rng.choice(2**60, size=n, replace=False))
        blobs.append(codec.compress(ids.astype(np.int64), rng.random(n)))
    cols = ["ids_blob", "scores_blob", "block_first"]
    table = pa.table({c: pa.array([b[c] for b in blobs],
                                  type=getattr(pa, arrow_type)())
                      for c in cols})
    for skip in (0, 1):  # a sliced column starts past its buffer's head
        want = [codec.decompress(b) for b in blobs[skip:]]
        got_ids, got_scores = codec.decompress({
            "n": np.array(sizes[skip:]),
            **{c: codec.arrow_blobs(table.column(c).chunk(0)[skip:])
               for c in cols}})
        np.testing.assert_array_equal(
            got_ids, np.concatenate([w[0] for w in want]))
        np.testing.assert_array_equal(
            got_scores, np.concatenate([w[1] for w in want]))
        assert got_ids.max() >= 2**59


def test_decompress_all_empty_lists():
    ids, scores = codec.decompress({"n": np.array([0, 0]), "ids_blob": b"",
                                    "scores_blob": b"", "block_first": b""})
    assert ids.size == 0 and scores.size == 0
