"""The term-hash layout key: ``bucket = pmod(xxhash64(term), n_buckets)``.

Every bucketed table (a built index's ``postings_compressed``,
``anchor_field`` and ``positional_postings``, and the flat reference
``bm25_postings`` of ``indexing.build_index``) is written partitioned by
this one key (``bucket_col``) and read through this one pruner
(``prune``), so the writer and every reader cannot disagree about where
a term lives.

Why a pure-python twin: the query path prunes each scan to the query
terms' buckets. The terms are driver-side (a query has a handful), so
computing their buckets must not cost a Spark job — 0.5 s of pure
scheduling overhead per query measured. This is the standard public
xxHash64 algorithm (Yann Collet's spec); Spark hashes the UTF-8 bytes of
a string with seed 42, then ``pmod`` into buckets.

Parity with the JVM implementation is property-tested in
``tests/test_hashing.py`` (random + real vocabulary strings) and checked
against a canary of JVM-captured hashes (``self_check``) before any
pruning: if the twin ever disagrees with the JVM, ``prune`` and the hot
serving tier raise ``RuntimeError`` rather than read the wrong buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned 64-bit xxHash64 of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes, seed: int = 42) -> int:
    """Two's-complement signed value — what Spark's LongType carries."""
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(term: str, n_buckets: int) -> int:
    """``pmod(xxhash64(term), n_buckets)`` with Spark semantics."""
    return xxh64_signed(term.encode("utf-8")) % n_buckets


# Known-good pairs captured from Spark 4.x (F.xxhash64, seed 42).
_CANARY = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "castle": -6208126986093739665,
    "tübingen": -2066294322208431270,
    "castle museum": 3315956186859425069,
    "x" * 40: -5348608777870439244,
    "hotels in tuebingen": 6350451062748057923,
}


def self_check() -> bool:
    """True iff the pure-python implementation matches the JVM canary."""
    return all(xxh64_signed(s.encode("utf-8")) == h
               for s, h in _CANARY.items())


def require_twin() -> None:
    """Refuse to prune with a twin that disagrees with the JVM."""
    if not self_check():
        raise RuntimeError("xxhash64 twin failed its canary check")


def bucket_col(col: str, n_buckets: int) -> Column:
    """The layout key as a Spark expression. Every bucketed table's
    ``bucket`` partition column is written as ``bucket_col("term", n)``,
    i.e. ``pmod(xxhash64("term"), n)``; ``bucket_of`` is its twin."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def prune(df: DataFrame, terms: list[str],
          n_buckets: int | None) -> DataFrame:
    """Partition-prune a bucketed table to the buckets of ``terms``.

    ``bucket`` is the table's partition column, so this predicate
    becomes parquet partition pruning — only the matching bucket
    directories are read (SURVEY.md §4 "bucketed postings"). The bucket
    count must be the one the table was built with (a built index
    records it in ``corpus_stats.json``); ``n_buckets=None`` returns the
    table unpruned — a full, correct scan.

    Bucket ids come from the pure-python twin (``bucket_of``): a handful
    of driver-side hashes, never a Spark job. No terms selects nothing.
    """
    if n_buckets is None:
        return df
    require_twin()
    buckets = sorted({bucket_of(t, n_buckets) for t in terms})
    if not buckets:
        return df.where(F.lit(False))
    return df.where(F.col("bucket").isin(buckets))
