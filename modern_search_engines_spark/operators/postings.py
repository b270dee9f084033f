"""Compressed posting-list construction — the salted two-phase merge
(north rule: "merge-sort posting-merge stage with salted repartitioning
to defuse head-term skew").

Why two phases: ``groupBy(term).collect_list()`` is a holistic aggregate —
a head term (Zipfian df) would funnel its entire posting list through one
reduce task. Phase 1 groups by (term, salt(doc)) so a head term's postings
are built as S independent sorted runs on S tasks; phase 2 merges the ≤S
runs per term (vectorized, ``codec.merge_runs``) and emits the final
compressed list. AQE cannot do this for aggregations (it only splits
skewed *joins*) — this is explicit dataflow design (SURVEY.md §4.1).

Execution shape (learned the hard way): with 1..3-gram vocabularies the
term count is O(total tokens), so anything per-term in Python
(``applyInPandas`` = one Python call per GROUP) drowns in invocation
overhead. Both phases therefore aggregate JVM-side
(``sort_array(collect_list(...))``) and the only Python is ONE
Arrow-batched ``pandas_udf`` that loops over the ~10k rows of each Arrow
batch calling the numpy codec — per-batch, not per-term, invocation cost.

Doc ids inside the compressed lists are int64
``doc_idx = conv(doc_id[:15], 16, 10)`` — the leading 60 bits of the md5
doc id. This keeps integer order consistent with the canonical
(score desc, doc_id asc) tie-break: WAND breaks score ties on doc_idx and
must agree with the oracle's doc_id string order. (At the 10^12-doc design
point this is promoted to a two-level (shard, local_idx) key to rule out
prefix collisions; the sandbox scale is ~2^20 docs against a 2^60 space.)
``doc_dim`` maps idx back to the md5 doc_id for display.

Sharding: compressed rows are keyed (term, bucket, shard) where
``shard = pmod(doc_idx, n_shards)``. A document lives in exactly one
shard, so per-shard WAND top-k is complete for its docs and the global
top-k is a cheap union-merge — the parallel query path at scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions import codec, hashing

BLOBS_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("ids_blob", T.BinaryType()),
    T.StructField("scores_blob", T.BinaryType()),
    T.StructField("block_first", T.BinaryType()),
    T.StructField("block_max", T.BinaryType()),
    T.StructField("block_off", T.BinaryType()),
])

_BLOB_KEYS = ("n", "ids_blob", "scores_blob", "block_first", "block_max",
              "block_off")


@F.pandas_udf(BLOBS_SCHEMA)
def _merge_compress_udf(runs_ids: pd.Series,
                        runs_scores: pd.Series) -> pd.DataFrame:
    """Merge each row's sorted runs and compress — one Python call per
    Arrow batch; the merge is per-row numpy, the compression is
    batch-vectorized across ALL the batch's lists (codec.compress_batch:
    Zipf-tail single-block lists share one global gap/varint pass —
    per-list Python overhead was the posting-merge stage's scaling
    bottleneck)."""
    merged: list[tuple[np.ndarray, np.ndarray]] = []
    for id_runs, score_runs in zip(runs_ids, runs_scores):
        if len(id_runs) == 1:  # df spread over one salt — no merge needed
            merged.append((np.asarray(id_runs[0], dtype=np.int64),
                           np.asarray(score_runs[0], dtype=np.float64)))
            continue
        ids = np.concatenate(
            [np.asarray(i, dtype=np.int64) for i in id_runs])
        scores = np.concatenate(
            [np.asarray(s, dtype=np.float64) for s in score_runs])
        order = np.argsort(ids, kind="stable")
        merged.append((ids[order], scores[order]))
    blobs = codec.compress_batch(merged)
    return pd.DataFrame(
        {k: [b[k] for b in blobs] for k in _BLOB_KEYS},
        columns=list(_BLOB_KEYS))


def _doc_idx():
    """Order-preserving int64 key from the md5-hex doc_id (leading 60
    bits): integer order == doc_id string order at no-collision scale."""
    return F.conv(F.substring("doc_id", 1, 15), 16, 10).cast("long")


def doc_dim(bm25_postings: DataFrame) -> DataFrame:
    """(doc_idx, doc_id) mapping for result materialization."""
    return (bm25_postings.select("doc_id").distinct()
            .select(_doc_idx().alias("doc_idx"), "doc_id"))


def doc_dim_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_idx, doc_id) derived from the docs display table —
    ``doc_idx`` is a pure column expression of ``doc_id``, so the
    mapping needs no build stage or storage of its own."""
    return docs.select(_doc_idx().alias("doc_idx"), "doc_id")


def build_compressed_postings(bm25_postings: DataFrame,
                              n_salts: int = 8,
                              n_shards: int = 1, *,
                              n_buckets: int,
                              term_stats: DataFrame | None = None
                              ) -> DataFrame:
    """(term, bucket, shard, n, blobs…) — the salted two-phase build.

    Phase 1 shuffle key (term, shard, salt) spreads head terms over
    ``n_salts`` tasks and builds sorted runs JVM-side; the packed runs
    are then repartitioned ONCE by ``bucket`` — hash(bucket) satisfies
    the clustered distribution of phase 2's groupBy(term, bucket) AND
    the partitioned write's layout, so the merge+compress aggregate and
    the bucket-dir write both reuse that exchange (2 shuffles total,
    verified by tests/test_plan_shapes; the naive shape is 3 — the third
    moved every compressed blob again just to co-locate bucket dirs).

    ``term_stats`` (deferred idf): when given, the input scores are the
    idf-LESS partials (``indexing.build_bm25_partials``) and idf is
    multiplied in at phase 2, after aggregation — a broadcast join
    against ≤|vocabulary| grouped rows instead of a term-keyed shuffle
    join against every posting row (the join-after-aggregation
    pushdown; measured 1.9× on the fused stage). The broadcast-side is
    the vocabulary dim; for corpora whose n-gram vocabulary outgrows a
    broadcast, fall back to ``term_stats=None`` with idf pre-joined
    into the input (the shuffle-join shape). The multiply order
    (partial × idf) is identical in both paths, so their compressed
    bytes are identical."""
    with_keys = bm25_postings.select(
        "term",
        hashing.bucket_col("term", n_buckets).alias("bucket"),
        _doc_idx().alias("doc_idx"),
        F.col("score").cast("double").alias("score"),
    ).withColumn("salt", F.pmod(F.xxhash64("doc_idx"), F.lit(n_salts)))

    run = F.sort_array(F.collect_list(F.struct("doc_idx", "score")))
    phase1 = (
        with_keys.groupBy("term", "bucket", "salt")
        .agg(run.alias("run"))
        .select(
            "term", "bucket",
            F.transform("run", lambda x: x["doc_idx"]).alias("run_ids"),
            F.transform("run", lambda x: x["score"]).alias("run_scores"),
        )
    )

    def _with_idf(grouped: DataFrame) -> DataFrame:
        """Deferred-idf multiply on the grouped runs: broadcast the
        vocabulary dim (preserves the bucket partitioning the
        pre-partitioned write relies on) and scale every run's scores
        JVM-side."""
        if term_stats is None:
            return grouped
        return (grouped
                .join(F.broadcast(term_stats.select("term", "idf")),
                      "term")
                .withColumn(
                    "runs_scores",
                    F.transform(
                        "runs_scores",
                        lambda arr: F.transform(
                            arr, lambda s: s * F.col("idf"))))
                .drop("idf"))

    phase2 = (
        _with_idf(
            phase1.repartition("bucket")
            .groupBy("term", "bucket")
            .agg(F.collect_list("run_ids").alias("runs_ids"),
                 F.collect_list("run_scores").alias("runs_scores")))
        .withColumn("blobs",
                    _merge_compress_udf("runs_ids", "runs_scores"))
    )

    out = phase2.select(
        "term", "bucket",
        F.lit(0).cast("long").alias("shard"),
        *[F.col(f"blobs.{k}").alias(k) for k in _BLOB_KEYS],
    )
    if n_shards > 1:
        # shard split: recompute per shard from the same phase-1 runs.
        # A doc belongs to exactly one shard, so shards partition each
        # term's posting list.
        sharded = (
            _with_idf(
                with_keys.withColumn(
                    "shard", F.pmod("doc_idx", F.lit(n_shards)))
                .groupBy("term", "bucket", "shard", "salt")
                .agg(run.alias("run"))
                .select(
                    "term", "bucket", "shard",
                    F.transform("run", lambda x: x["doc_idx"])
                    .alias("run_ids"),
                    F.transform("run", lambda x: x["score"])
                    .alias("run_scores"))
                .repartition("bucket")
                .groupBy("term", "bucket", "shard")
                .agg(F.collect_list("run_ids").alias("runs_ids"),
                     F.collect_list("run_scores").alias("runs_scores")))
            .withColumn("blobs",
                        _merge_compress_udf("runs_ids", "runs_scores"))
        )
        out = sharded.select(
            "term", "bucket", "shard",
            *[F.col(f"blobs.{k}").alias(k) for k in _BLOB_KEYS])
    return out


def merge_compressed_postings(base: DataFrame,
                              delta: DataFrame) -> DataFrame:
    """Merge two compressed posting tables over DISJOINT doc sets (an
    existing index + a delta built from newly ingested pages) into one —
    the compaction step of incremental index maintenance
    (streaming/incremental.py writes the deltas).

    Per (term, bucket, shard): decompress each side's blobs, merge the
    sorted runs, recompress with the batch codec. The shuffle key is the
    posting key, so a term present in only one side moves one row and
    merging is linear in posting bytes; output is byte-identical to a
    from-scratch build over the union corpus (tested), so repeated
    merge cycles never drift.
    """
    def pack(df: DataFrame) -> DataFrame:
        return df.select(
            "term", "bucket", "shard",
            F.struct(*_BLOB_KEYS).alias("blobs"))

    both = pack(base).unionByName(pack(delta))
    grouped = both.groupBy("term", "bucket", "shard").agg(
        F.collect_list("blobs").alias("parts"))

    @F.pandas_udf(BLOBS_SCHEMA)
    def _merge(parts: pd.Series) -> pd.DataFrame:
        merged: list[tuple[np.ndarray, np.ndarray]] = []
        for blob_rows in parts:
            runs = [codec.decompress({k: r[k] for k in _BLOB_KEYS})
                    for r in blob_rows]
            if len(runs) == 1:
                merged.append(runs[0])
            else:
                merged.append(codec.merge_runs(runs))
        blobs = codec.compress_batch(merged)
        return pd.DataFrame(
            {k: [b[k] for b in blobs] for k in _BLOB_KEYS},
            columns=list(_BLOB_KEYS))

    return (grouped
            .withColumn("blobs", _merge("parts"))
            .select("term", "bucket", "shard",
                    *[F.col(f"blobs.{k}").alias(k) for k in _BLOB_KEYS]))


def delete_docs_from_postings(compressed: DataFrame,
                              doc_idx: list[int]) -> DataFrame:
    """Remove a set of documents from a compressed posting table (the
    tombstone/compliance-delete path of index maintenance).

    The delete set is broadcast as a plain Python set into an
    Arrow-batched UDF that decompresses each list, masks the deleted
    ids (numpy isin), and recompresses via the batch codec; lists that
    become empty are dropped. Map-side only — no shuffle: each posting
    row rewrites in place. For delete sets too large to broadcast,
    pre-join the doc ids instead; this path covers the common
    small-tombstone case.
    """
    dead = sorted(set(int(d) for d in doc_idx))
    dead_arr = np.array(dead, dtype=np.int64)

    @F.pandas_udf(BLOBS_SCHEMA)
    def _strip(n: pd.Series, ids_blob: pd.Series, scores_blob: pd.Series,
               block_first: pd.Series, block_max: pd.Series,
               block_off: pd.Series) -> pd.DataFrame:
        kept: list[tuple[np.ndarray, np.ndarray]] = []
        for row in zip(n, ids_blob, scores_blob, block_first,
                       block_max, block_off):
            blobs = dict(zip(_BLOB_KEYS, row))
            ids, scores = codec.decompress(blobs)
            mask = ~np.isin(ids, dead_arr)
            kept.append((ids[mask], scores[mask]))
        out = codec.compress_batch(kept)
        return pd.DataFrame(
            {k: [b[k] for b in out] for k in _BLOB_KEYS},
            columns=list(_BLOB_KEYS))

    stripped = compressed.withColumn(
        "blobs", _strip(*[F.col(k) for k in _BLOB_KEYS]))
    return (stripped
            .select("term", "bucket", "shard",
                    *[F.col(f"blobs.{k}").alias(k) for k in _BLOB_KEYS])
            .where(F.col("n") > 0))


def write_postings(compressed: DataFrame, path: str) -> None:
    """Persist partitioned by bucket → query-time partition pruning.
    (Iceberg ``bucket(term)`` partition transform on a real cluster;
    parquet ``partitionBy`` here.)"""
    (compressed.repartition("bucket")
     .sortWithinPartitions("term", "shard")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
