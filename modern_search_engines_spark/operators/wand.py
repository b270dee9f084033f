"""Block-max WAND top-k over compressed posting lists.

Document-at-a-time union scoring (the reference's OR semantics,
BM25Ranker.py:49-61) with two pruning levels:
  1. WAND pivoting on global per-term upper bounds — lists whose summed
     bounds cannot beat the current k-th score are skipped wholesale;
  2. block-max refinement — when the pivot aligns, the per-block maxima
     (codec ``block_max``) give a tighter bound; if even that cannot beat
     the threshold the pivot document is skipped WITHOUT scoring.

Posting lists are navigated through lazy block cursors: only the block
under the cursor is ever varint-decoded (``codec.decompress_block`` via
``block_off`` random access), seeks jump over blocks using the
``block_first`` skip table without touching their bytes, and a cursor
parked exactly on a block boundary reads its doc id from ``block_first``
without decoding at all. Pruning therefore saves real decompression
work, not just scoring — at corpus scale decode time dominates, so
block-max pruning without lazy decode would be cosmetic. Each cursor
counts its decoded blocks (``decoded_blocks`` / ``total_blocks``) and
tests assert pruning-heavy queries decode strictly fewer than all.

Rank-identity guarantee: pruning only ever skips a document when its
score upper bound is *strictly below* the current k-th best score, so a
document that could enter the top-k under the deterministic tie-break
(score desc, doc_id asc) is always fully scored. The naive union-sum path
(operators/query.py) stays the reference implementation; tests assert the
two are rank-identical (SURVEY.md §4.3).

Runs inside ``applyInPandas`` over (qid, shard) groups: a document lives
in exactly one shard, so shard-local top-k lists are complete for their
documents and the global top-k is the k best of the union.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import codec, hashing


class PostingCursor:
    """Lazy block-at-a-time cursor over one compressed posting list.

    Invariants: ``pos`` is the global index of the current posting
    (ascending doc ids); at most ONE block is materialized at a time;
    a cursor sitting exactly on a block start answers ``cur_id()`` from
    the ``block_first`` skip table without decoding.
    """

    __slots__ = ("n", "mult", "block_first", "block_max", "pos",
                 "_load", "_bi", "_ids", "_scores", "decoded_blocks",
                 "_bulk", "_bulk_at", "_bulked")

    def __init__(self, n: int, mult: float, block_first: np.ndarray,
                 block_max: np.ndarray, load_block, bulk_load=None):
        self.n = int(n)
        self.mult = float(mult)
        self.block_first = block_first
        self.block_max = block_max
        self._load = load_block
        self.pos = 0
        self._bi = -1          # index of the materialized block (-1: none)
        self._ids = None
        self._scores = None
        self.decoded_blocks = 0
        # adaptive bulk decode: per-block lazy decode wins when pruning
        # skips most blocks, but a DECODE-HEAVY traversal (low-theta
        # batch queries that touch most blocks) pays per-block Python/
        # numpy call overhead ~50x the per-element cost of one whole-
        # list vectorized pass. Once a cursor has decoded a quarter of
        # its blocks, the pruning bet has lost — decode the whole list
        # in one vectorized pass and serve the rest as array slices.
        self._bulk = bulk_load
        self._bulk_at = max(4, self.total_blocks >> 2)
        self._bulked = False

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_blobs(cls, blobs: dict, mult: float) -> "PostingCursor":
        bf = np.frombuffer(blobs["block_first"], dtype=np.int64)
        bm = np.frombuffer(blobs["block_max"], dtype=np.float64)
        offs = np.frombuffer(blobs["block_off"], dtype=np.int64)
        ids_blob = blobs["ids_blob"]
        scores_blob = blobs["scores_blob"]
        n = int(blobs["n"])

        # skip tables parsed ONCE here — codec.decompress_block would
        # re-frombuffer block_off/block_first on every call, a real cost
        # when a batch of queries decodes hundreds of blocks
        def load(bi: int):
            s = bi * codec.BLOCK
            e = min(s + codec.BLOCK, n)
            end = offs[bi + 1] if bi + 1 < offs.size else len(ids_blob)
            gaps = codec.varint_decode(
                ids_blob[offs[bi]:end], e - s).astype(np.int64)
            ids = bf[bi] + np.cumsum(gaps)
            scores = np.frombuffer(scores_blob, dtype=np.float64,
                                   offset=8 * s, count=e - s)
            return ids, scores

        return cls(n, mult, bf, bm, load,
                   bulk_load=lambda: codec.decompress(blobs))

    @classmethod
    def from_arrays(cls, ids: np.ndarray, scores: np.ndarray, mult: float,
                    block_max: np.ndarray | None = None) -> "PostingCursor":
        ids = np.ascontiguousarray(ids, dtype=np.int64)
        scores = np.ascontiguousarray(scores, dtype=np.float64)
        starts = np.arange(0, ids.size, codec.BLOCK)
        if block_max is None:
            block_max = (np.maximum.reduceat(scores, starts)
                         if ids.size else np.zeros(0))

        def load(bi: int):
            s = bi * codec.BLOCK
            e = min(s + codec.BLOCK, ids.size)
            return ids[s:e], scores[s:e]

        return cls(ids.size, mult, ids[starts],
                   np.asarray(block_max, dtype=np.float64), load)

    # -- navigation ---------------------------------------------------------

    @property
    def total_blocks(self) -> int:
        return self.block_first.size

    def exhausted(self) -> bool:
        return self.pos >= self.n

    def _ensure(self) -> None:
        bi = self.pos // codec.BLOCK
        if bi != self._bi:
            if (self._bulk is not None
                    and self.decoded_blocks >= self._bulk_at):
                ids, scores = self._bulk()

                def load(b, ids=ids, scores=scores):
                    s = b * codec.BLOCK
                    return (ids[s:s + codec.BLOCK],
                            scores[s:s + codec.BLOCK])

                self._load = load
                self._bulk = None
                self._bulked = True
                # the bulk pass really decoded everything — keep the
                # pruning counter honest
                self.decoded_blocks = self.total_blocks
            self._ids, self._scores = self._load(bi)
            self._bi = bi
            if not self._bulked:
                self.decoded_blocks += 1

    def cur_id(self) -> int:
        off = self.pos % codec.BLOCK
        if off == 0:  # block boundary: answer from the skip table
            return int(self.block_first[self.pos // codec.BLOCK])
        self._ensure()
        return int(self._ids[off])

    def cur_score(self) -> float:
        self._ensure()
        return float(self._scores[self.pos % codec.BLOCK])

    def cur_block_max(self) -> float:
        return float(self.block_max[self.pos // codec.BLOCK])

    def advance(self) -> None:
        self.pos += 1

    def seek(self, doc: int) -> None:
        """Move to the first posting with id ≥ ``doc`` (never backwards).

        Whole blocks whose range cannot contain ``doc`` are skipped via
        ``block_first`` without decoding their bytes.
        """
        if self.exhausted() or self.cur_id() >= doc:
            return
        # last block whose first id ≤ doc (it is ≥ the current block
        # because cur_id() < doc ⇒ block_first[cur block] < doc)
        tb = int(np.searchsorted(self.block_first, doc,
                                 side="right")) - 1
        if tb > self.pos // codec.BLOCK:
            self.pos = tb * codec.BLOCK
            if self.cur_id() >= doc:
                return
        # binary search inside the one target block
        self._ensure()
        off = self.pos % codec.BLOCK
        within = int(np.searchsorted(self._ids[off:], doc, side="left"))
        self.pos += within
        # if doc exceeds this block's last id, pos now sits on the next
        # block's start (or past the end) — cur_id comes from block_first


def _as_cursors(lists) -> list[PostingCursor]:
    out = []
    for l in lists:
        if isinstance(l, PostingCursor):
            out.append(l)
        elif "ids" in l:
            out.append(PostingCursor.from_arrays(
                l["ids"], l["scores"], l["mult"], l.get("block_max")))
        else:
            out.append(PostingCursor.from_blobs(l, l["mult"]))
    return [c for c in out if c.n > 0]


def wand_topk(lists, k: int) -> list[tuple[int, float]]:
    """Exact top-k by (score desc, doc_idx asc) over posting lists.

    ``lists``: PostingCursor objects, raw-array dicts (ids int64 asc,
    scores f64, mult, optional block_max) or compressed blob dicts.
    """
    cursors = _as_cursors(lists)
    if not cursors:
        return []
    ubs = [c.mult * float(c.block_max.max()) for c in cursors]

    # min-heap of (score, -doc_idx): root is the weakest top-k member —
    # lowest score, and among equal scores the LARGEST doc_idx (which the
    # canonical order ranks last).
    heap: list[tuple[float, int]] = []

    def threshold() -> float:
        return heap[0][0] if len(heap) >= k else float("-inf")

    def offer(doc: int, score: float) -> None:
        item = (score, -doc)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)

    while True:
        live = [i for i, c in enumerate(cursors) if not c.exhausted()]
        order = sorted(live, key=lambda i: cursors[i].cur_id())
        if not order:
            break
        theta = threshold()
        acc = 0.0
        pivot_pos = None
        for pos, i in enumerate(order):
            acc += ubs[i]
            if acc >= theta:
                pivot_pos = pos
                break
        if pivot_pos is None:
            break  # no remaining doc can enter the top-k
        pivot_doc = cursors[order[pivot_pos]].cur_id()

        first_doc = cursors[order[0]].cur_id()
        if first_doc == pivot_doc:
            # aligned: every list whose current doc equals the pivot doc
            # (this can extend PAST the pivot position — lists after the
            # pivot may sit on the same doc and must count toward the
            # bound, else a true top-k doc gets skipped)
            aligned = []
            for i in order:
                if cursors[i].cur_id() == pivot_doc:
                    aligned.append(i)
                else:
                    break
            # block-max bound needs no decode: block_max is stored
            bm_acc = sum(cursors[i].mult * cursors[i].cur_block_max()
                         for i in aligned)
            if len(heap) >= k and bm_acc < theta:
                # block bound rules the pivot out — skip without scoring
                # (and without decoding blocks we only entered via the
                # skip table)
                for i in aligned:
                    cursors[i].advance()
                continue
            score = 0.0
            for i in order:
                c = cursors[i]
                cid = c.cur_id()
                if cid == pivot_doc:
                    score += c.mult * c.cur_score()
                    c.advance()
                elif cid > pivot_doc:
                    break
            offer(pivot_doc, score)
        else:
            # advance lists before the pivot up to the pivot doc —
            # block-skipping seeks, no decode of skipped blocks
            for i in order[:pivot_pos]:
                cursors[i].seek(pivot_doc)

    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-nd, s) for s, nd in out]


def _rows_to_cursors(pdf: pd.DataFrame) -> list[PostingCursor]:
    out = []
    for r in pdf.itertuples():
        out.append(PostingCursor.from_blobs({
            "n": r.n, "ids_blob": r.ids_blob, "scores_blob": r.scores_blob,
            "block_first": r.block_first, "block_max": r.block_max,
            "block_off": r.block_off,
        }, mult=float(r.mult)))
    return out


def run_wand(spark: SparkSession, queries: list[tuple[str, str]],
             compressed: DataFrame, doc_dim: DataFrame, k: int = 100,
             n_buckets: int | None = None) -> DataFrame:
    """Batch block-max-WAND retrieval over the compressed postings.

    One pass for all queries: broadcast the (qid, term, mult) side onto
    the compressed scan, bucket-pruned when ``n_buckets`` (the index's
    recorded bucket count) is given, then ``applyInPandas`` per
    (qid, shard) runs WAND, and a final window merges shard top-ks.
    Returns (qid, rank, doc_id, score).
    """
    from . import query as qmod

    rows = qmod.query_term_rows(queries)
    terms = qmod.terms_df(spark, rows).select(
        "qid", "term",
        (F.col("qtf").cast("double") * F.col("w")).alias("mult"))
    work = hashing.prune(compressed, [r[1] for r in rows], n_buckets)
    joined = work.join(F.broadcast(terms), "term")

    def _wand_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = key[0]
        top = wand_topk(_rows_to_cursors(pdf), k)
        return pd.DataFrame(
            {"qid": [qid] * len(top),
             "doc_idx": [d for d, _ in top],
             "score": [s for _, s in top]})

    shard_tops = joined.groupBy("qid", "shard").applyInPandas(
        _wand_group, schema="qid string, doc_idx long, score double")

    # shard-local top-ks merge through one window exchange (≤ k·shards
    # rows per query — the exchange moves almost nothing)
    w = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_idx")))
    ranked = shard_tops.withColumn("rank", w).where(F.col("rank") <= k)
    # J2 materialization: AQE broadcasts the smaller side (doc_dim at
    # bench scale — cheap, and it keeps the expensive WAND stage free of
    # a broadcast barrier). At 10^12-doc scale doc_dim is partitioned on
    # doc_idx and the k·|queries| ranked side becomes the broadcast.
    return (ranked.join(doc_dim, "doc_idx")
            .select("qid", "rank", "doc_id", "score")
            .orderBy("qid", "rank"))
