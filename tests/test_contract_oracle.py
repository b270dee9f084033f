"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01; compare row count + order-insensitive values (columns sorted by
name, floats already rounded inside the queries)."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _norm(v):
    """STRICT normalization mirroring the driver's value-hash compare:
    no decimal→float or int→float coercion — a Spark Decimal vs DuckDB
    float64 (or bigint vs HUGEINT) must FAIL here like it fails there.
    Queries are responsible for emitting identical types in both engines
    (cast integer sums to BIGINT, money sums to DOUBLE in the SQL twin)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return ("f", round(v, 6))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    import decimal
    if isinstance(v, decimal.Decimal):
        return ("dec", v)  # Decimal == float numerically; tag to distinguish
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, con, name):
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    df = qs[name](spark, SF)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    if name not in sqls:
        assert len(spark_rows) >= 0  # rows-only check
        return
    res = con.execute(sqls[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: schema mismatch {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount {len(spark_rows)} vs {len(duck_rows)}")
    a = _canon(spark_rows, spark_cols)
    b = _canon(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score", "rank"]


@pytest.mark.parametrize("name", ["bm25_topk", "tfidf_topk",
                                  "bm25_conj_topk", "bm25f_topk",
                                  "phrase_match_topk", "dedup_ngram_jaccard",
                                  "dedup_minhash_lsh", "simhash_pairs",
                                  "dedup_minhash_estimate",
                                  "dup_gram_fraction"])
def test_retrieval_entry_leaves_no_cached_rdds(spark, name):
    """A retrieval or dedup entry leaves nothing persisted in the
    session once its result is collected."""
    def persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persistent()
    assert entrymod.queries()[name](spark, SF).collect()
    assert persistent() == before
