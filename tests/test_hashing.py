"""Pure-python xxhash64 twin vs Spark's JVM implementation."""

import random
import string

import pytest
from pyspark.sql import functions as F

from modern_search_engines_spark.functions import hashing


def test_canary():
    assert hashing.self_check()


def test_matches_spark_on_random_strings(spark):
    rng = random.Random(7)
    vals = [""]
    for _ in range(300):
        n = rng.randrange(0, 80)
        vals.append("".join(rng.choice(string.printable[:94])
                            for _ in range(n)))
    vals += ["tübingen", "tübingen castle", "näckarbrücke", "日本語",
             "a" * 31, "b" * 32, "c" * 33, "d" * 7, "e" * 8, "f" * 9]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", F.xxhash64("s").alias("h")).collect()}
    for v in vals:
        assert hashing.xxh64_signed(v.encode("utf-8")) == got[v], repr(v)


def test_bucket_semantics_match_pmod(spark):
    vals = ["castle", "museum", "tübingen", "castle museum tour", ""]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r["s"]: r["b"] for r in df.select(
        "s", F.pmod(F.xxhash64("s"), F.lit(64)).alias("b")).collect()}
    for v in vals:
        assert hashing.bucket_of(v, 64) == got[v], repr(v)


def test_failed_canary_refuses_to_prune(spark, monkeypatch):
    # a twin that disagrees with the JVM must not pick buckets, and no
    # Spark job may stand in for it: the pruner raises before planning
    df = spark.createDataFrame([("castle", 0)], "term string, bucket int")
    monkeypatch.setattr(hashing, "self_check", lambda: False)
    sc = spark.sparkContext
    group = "failed-canary-prune"
    sc.setJobGroup(group, "prune with a failed canary")
    try:
        with pytest.raises(RuntimeError, match="canary"):
            hashing.prune(df, ["castle", "museum"], 64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # unpruned (n_buckets=None) needs no twin and stays available
    assert hashing.prune(df, ["castle"], None) is df
