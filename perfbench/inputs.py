"""Seeded benchmark inputs: the pages table and the query traffic.

Everything here is a pure function of the seed. The program under test
sees only the files written from it: a pages parquet directory and a
query TSV, plus the request bodies of the hot-tier stream.
"""

from __future__ import annotations

import bisect
import random

from modern_search_engines_spark import corpus, textlib

PAGES = 2000            # input pages per index (about 640 are indexed)
POOL_SIZE = 300         # distinct queries real traffic repeats
ZERO_HIT_SHARE = 0.01   # stop-word-only and absent-term queries
BATCH_QUERIES = 200     # queries per run_queries batch
GATE_QUERIES = 20       # batch queries whose hot answers are checked
STREAM_BLOCK = 250      # requests per exactly Zipf-shared stream block


def write_pages(spark, seed: int, path: str) -> None:
    """The engine's own synthetic corpus, generated on the executors."""
    corpus.pages_df(spark, PAGES, seed=seed).write.parquet(path)


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (rank + 1) for rank in range(n)]


def query_pool() -> list[str]:
    """POOL_SIZE distinct 1-4-word queries, the same for every seed as a
    query log is: which queries make up the traffic's head decides the
    latency percentiles, and a per-seed pool moved them by more than
    the benchmark's bounds. Words are Zipf-weighted English vocabulary;
    one query in ten swaps one word for a German word, which the index
    mostly lacks, as mixed-language traffic does."""
    rng = random.Random("pool")
    en, de = corpus.EN_VOCAB, corpus.DE_VOCAB
    weights = _zipf_weights(len(en))
    pool: list[str] = []
    seen: set[str] = set()
    while len(pool) < POOL_SIZE:
        words = rng.choices(en, weights=weights, k=rng.randint(1, 4))
        if rng.random() < 0.1:
            words[rng.randrange(len(words))] = rng.choice(de)
        q = " ".join(words)
        if q not in seen:
            seen.add(q)
            pool.append(q)
    return pool


def zero_hit_queries(seed: int) -> list[str]:
    """Queries no indexed page answers: stop words only, German words
    only, and a made-up term."""
    rng = random.Random(f"zero:{seed}")
    stop = sorted(w for w in ("the", "of", "and", "to", "in", "is")
                  if w in textlib.ENGLISH_STOPWORDS)
    return [" ".join(rng.sample(stop, 2)),
            " ".join(rng.sample(corpus.DE_VOCAB[:5], 2)),
            f"zq{rng.getrandbits(24):06x}"]


def query_stream(seed: int, salt: str):
    """Endless seeded stream of Zipf draws over the pool, with
    ZERO_HIT_SHARE of the slots taken by zero-hit queries. Each block of
    STREAM_BLOCK requests gives every query its Zipf share of the slots,
    rounded up or down by systematic sampling from a seeded offset, in
    seeded order; plain independent draws let the head's share, and so
    the percentiles, vary from seed to seed."""
    pool, zero = query_pool(), zero_hit_queries(seed)
    rng = random.Random(f"{salt}:{seed}")
    cum, total = [], 0.0
    for w in _zipf_weights(len(pool)):
        total += w
        cum.append(total)
    n_zero = round(STREAM_BLOCK * ZERO_HIT_SHARE)
    n_pool = STREAM_BLOCK - n_zero
    while True:
        u = rng.random()
        block = [pool[bisect.bisect_left(cum, (k + u) * total / n_pool)]
                 for k in range(n_pool)]
        block += [rng.choice(zero) for _ in range(n_zero)]
        rng.shuffle(block)
        yield from block


def write_batch_tsv(seed: int, path: str) -> list[tuple[str, str]]:
    """BATCH_QUERIES (qid, query) rows drawn from the stream, as TSV."""
    stream = query_stream(seed, "batch")
    rows = [(f"q{i:04d}", next(stream)) for i in range(BATCH_QUERIES)]
    with open(path, "w") as f:
        f.writelines(f"{qid}\t{q}\n" for qid, q in rows)
    return rows
