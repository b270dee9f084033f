"""Posting-list compression codec: delta-gap + LEB128 varint with
block-max metadata (north rule: "sorted, delta-gap + varint-compressed
posting lists ... block-max WAND pruning").

Pure numpy — vectorized encode/decode, no per-element Python in the hot
path. Used inside Arrow-batched UDFs (``operators/postings.py``), by
the WAND query path (``operators/wand.py``) and by the hot tier
(``plans/hot.py``), which decodes a whole bucket's lists in one
``decompress`` call: blobs of several lists laid back to back (an Arrow
column's values, ``arrow_blobs``) decode as one, with per-list counts.

Layout per posting list (one term, doc ids ascending):
  ids_blob      varint gaps; the first element of each block stores gap 0 —
                absolute block starts live in ``block_first``
  scores_blob   float64 LE array, same order as ids
  block_first   int64 LE array  — absolute first doc id per block
  block_max     float64 LE array — max score per block (WAND upper bounds)
  block_off     int64 LE array  — byte offset of each block in ids_blob
                (random block access without decoding predecessors)
  n             posting count

Block size 128 (a cache-friendly power of two; WAND skips whole blocks).
"""

from __future__ import annotations

import numpy as np

BLOCK = 128


# ---------------------------------------------------------------------------
# varint (LEB128) — vectorized
# ---------------------------------------------------------------------------

def _varint_encode_with_sizes(values: np.ndarray
                              ) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array; also return per-value byte counts
    (lets batch callers split one global encode into per-list blobs)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0)
        tmp >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    buf = np.zeros(int(ends[-1]), dtype=np.uint8)
    cur = v.copy()
    for b in range(10):
        mask = nbytes > b
        if not mask.any():
            break
        idx = starts[mask] + b
        chunk = (cur[mask] & np.uint64(0x7F)).astype(np.uint8)
        more = (nbytes[mask] > (b + 1)).astype(np.uint8) << 7
        buf[idx] = chunk | more
        cur >>= np.uint64(7)
    return buf.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized, ≤10 bytes/value)."""
    return _varint_encode_with_sizes(values)[0]


def varint_decode(blob: bytes, n_values: int) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    if n_values == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(blob, dtype=np.uint8)
    is_end = (b & 0x80) == 0
    vid = np.zeros(b.size, dtype=np.int64)
    vid[1:] = np.cumsum(is_end)[:-1]
    starts = np.flatnonzero(
        np.concatenate(([True], is_end[:-1])))
    pos = np.arange(b.size, dtype=np.int64) - starts[vid]
    contrib = (b & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64)
    vals = np.zeros(n_values, dtype=np.uint64)
    np.bitwise_or.at(vals, vid, contrib)
    return vals


# ---------------------------------------------------------------------------
# posting-list compress / decompress
# ---------------------------------------------------------------------------

def compress(doc_ids: np.ndarray, scores: np.ndarray) -> dict:
    """Compress one sorted posting list → blob dict (see module doc)."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    sc = np.ascontiguousarray(scores, dtype=np.float64)
    n = ids.size
    assert sc.size == n
    if n == 0:
        return {"n": 0, "ids_blob": b"", "scores_blob": b"",
                "block_first": b"", "block_max": b"", "block_off": b""}
    if n > 1 and not (ids[1:] > ids[:-1]).all():
        raise ValueError("doc_ids must be strictly ascending")

    block_starts = np.arange(0, n, BLOCK)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = (ids[1:] - ids[:-1]).astype(np.uint64)
    gaps[block_starts] = 0  # absolute starts live in block_first

    block_first = ids[block_starts]
    nblocks = block_starts.size
    block_max = np.maximum.reduceat(sc, block_starts)

    # per-block byte offsets into ids_blob
    offs = np.zeros(nblocks, dtype=np.int64)
    parts = []
    pos = 0
    for bi, s in enumerate(block_starts):
        e = min(s + BLOCK, n)
        part = varint_encode(gaps[s:e])
        offs[bi] = pos
        pos += len(part)
        parts.append(part)

    return {
        "n": int(n),
        "ids_blob": b"".join(parts),
        "scores_blob": sc.tobytes(),
        "block_first": block_first.tobytes(),
        "block_max": block_max.tobytes(),
        "block_off": offs.tobytes(),
    }


def compress_batch(lists: list[tuple[np.ndarray, np.ndarray]]
                   ) -> list[dict]:
    """Compress MANY posting lists with cross-list vectorization.

    ``compress`` costs ~20 numpy calls per list; with Zipfian vocabularies
    the overwhelming majority of lists are a single block (df ≤ BLOCK),
    and per-list Python overhead dominates the posting-merge stage
    (measured ~95 µs/term — the stage's scaling bottleneck). Here every
    single-block list in the batch shares ONE global gap computation and
    ONE varint encode; per-list work is two byte-slices. Multi-block
    lists (the Zipf head — a tiny fraction) fall back to ``compress``.

    Output is byte-identical to per-list ``compress`` (tests assert it).
    """
    out: list[dict | None] = [None] * len(lists)
    small_idx = []
    for i, (ids, sc) in enumerate(lists):
        n = ids.size
        if n == 0:
            out[i] = compress(ids, sc)
        elif n <= BLOCK:
            small_idx.append(i)
        else:
            out[i] = compress(ids, sc)
    if not small_idx:
        return out  # type: ignore[return-value]

    lens = np.array([lists[i][0].size for i in small_idx], dtype=np.int64)
    allids = np.concatenate(
        [np.ascontiguousarray(lists[i][0], dtype=np.int64)
         for i in small_idx])
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    gaps = np.empty(allids.size, dtype=np.uint64)
    gaps[1:] = (allids[1:] - allids[:-1]).astype(np.uint64)
    gaps[starts] = 0  # first element of each (single) block stores gap 0
    # one global strict-ascending check (per-list in compress()):
    # a zero or wrapped-negative gap off a list start means unsorted input
    nonstart = np.ones(allids.size, dtype=bool)
    nonstart[starts] = False
    bad = gaps[nonstart]
    if bad.size and ((bad == 0).any()
                     or (bad >= np.uint64(1 << 63)).any()):
        raise ValueError("doc_ids must be strictly ascending")
    buf, nbytes = _varint_encode_with_sizes(gaps)
    byte_ends = np.cumsum(nbytes)
    blob_end = byte_ends[np.cumsum(lens) - 1]
    blob_start = np.concatenate(([0], blob_end[:-1]))
    first_ids = allids[starts]
    zero_off = np.zeros(1, dtype=np.int64).tobytes()
    for j, i in enumerate(small_idx):
        ids, sc = lists[i]
        sc = np.ascontiguousarray(sc, dtype=np.float64)
        out[i] = {
            "n": int(lens[j]),
            "ids_blob": buf[blob_start[j]:blob_end[j]],
            "scores_blob": sc.tobytes(),
            "block_first": first_ids[j:j + 1].tobytes(),
            "block_max": np.float64(sc.max()).tobytes(),
            "block_off": zero_off,
        }
    return out  # type: ignore[return-value]


def decompress(blobs: dict) -> tuple[np.ndarray, np.ndarray]:
    """Full decompress → (ids int64, scores float64).

    ``blobs["n"]`` is one list's posting count, or an int array of the
    counts of several lists whose blobs lie back to back in
    ``ids_blob``, ``scores_blob`` and ``block_first`` (a table column's
    values, e.g. via ``arrow_blobs``). Each list's ids come out
    ascending, the lists in input order; one segmented cumsum decodes
    them all. ``block_max``/``block_off`` are not read."""
    n = np.atleast_1d(np.asarray(blobs["n"], dtype=np.int64))
    total = int(n.sum())
    if total == 0:
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))
    gaps = varint_decode(blobs["ids_blob"], total).astype(np.int64)
    block_first = np.frombuffer(blobs["block_first"], dtype=np.int64)
    # block b of list l starts at posting start(l) + BLOCK * b; a list
    # with n = 0 has no block, so block starts strictly ascend and each
    # block's size is the distance to the next start
    nblocks = -(-n // BLOCK)
    first_block = np.cumsum(nblocks) - nblocks
    block_starts = (np.repeat(np.cumsum(n) - n, nblocks) + BLOCK * (
        np.arange(nblocks.sum()) - np.repeat(first_block, nblocks)))
    sizes = np.diff(np.append(block_starts, total))
    # segmented cumsum: within-block inclusive cumsum of gaps
    cs = np.cumsum(gaps)
    seg = cs - np.repeat(cs[block_starts] - gaps[block_starts], sizes)
    ids = np.repeat(block_first, sizes) + seg
    scores = np.frombuffer(blobs["scores_blob"], dtype=np.float64).copy()
    return ids, scores


def arrow_blobs(arr) -> memoryview:
    """The back-to-back values of an Arrow ``binary`` or ``large_binary``
    array as one zero-copy buffer (the input ``decompress`` takes for
    several lists)."""
    _, offsets, data = arr.buffers()
    wide = str(arr.type) == "large_binary"
    offs = np.frombuffer(offsets, dtype=np.int64 if wide else np.int32)
    lo, hi = int(offs[arr.offset]), int(offs[arr.offset + len(arr)])
    return memoryview(data)[lo:hi] if data is not None else memoryview(b"")


def decompress_block(blobs: dict, bi: int) -> tuple[np.ndarray, np.ndarray]:
    """Random-access decompress of block ``bi`` only (WAND skip path)."""
    n = int(blobs["n"])
    offs = np.frombuffer(blobs["block_off"], dtype=np.int64)
    block_first = np.frombuffer(blobs["block_first"], dtype=np.int64)
    s = bi * BLOCK
    e = min(s + BLOCK, n)
    end_byte = offs[bi + 1] if bi + 1 < offs.size else len(blobs["ids_blob"])
    gaps = varint_decode(blobs["ids_blob"][offs[bi]:end_byte],
                         e - s).astype(np.int64)
    ids = block_first[bi] + np.cumsum(gaps)
    scores = np.frombuffer(blobs["scores_blob"], dtype=np.float64,
                           offset=8 * s, count=e - s)
    return ids, scores


def merge_runs(runs: list[tuple[np.ndarray, np.ndarray]]
               ) -> tuple[np.ndarray, np.ndarray]:
    """Merge k sorted (ids, scores) runs into one sorted list.

    The reduce side of the salted two-phase posting build — vectorized
    concat + stable argsort (ids are disjoint across runs because a doc
    lands in exactly one salt partition)."""
    if not runs:
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))
    ids = np.concatenate([r[0] for r in runs])
    scores = np.concatenate([r[1] for r in runs])
    order = np.argsort(ids, kind="stable")
    return ids[order], scores[order]
