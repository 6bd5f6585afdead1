"""Deterministic sampling: reproducibility under repartitioning, rate
accuracy, disjoint splits — vs a python md5 oracle."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from simple_osm_queries_spark.operators import sampling as S


def _uniform_py(key, salt=""):
    h = hashlib.md5(f"{key}\x1f{salt}".encode()).hexdigest()
    return int(h[:13], 16) / float(1 << 52)


def test_sample_matches_python_oracle_and_is_partition_stable(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    got = sorted(r.doc_id for r in S.deterministic_sample(df, 0.25, "doc_id").collect())
    want = sorted(i for i in range(5000) if _uniform_py(i) < 0.25)
    assert got == want
    # repartitioning must not change membership (df.sample would)
    got2 = sorted(
        r.doc_id
        for r in S.deterministic_sample(df.repartition(17), 0.25, "doc_id").collect()
    )
    assert got2 == got
    assert 0.2 < len(got) / 5000 < 0.3


def test_salt_gives_independent_samples(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in S.deterministic_sample(df, 0.5, "doc_id", salt="a").collect()}
    b = {r.doc_id for r in S.deterministic_sample(df, 0.5, "doc_id", salt="b").collect()}
    overlap = len(a & b) / max(len(a), 1)
    assert 0.35 < overlap < 0.65  # ~rate, not ~1


def test_split_disjoint_and_complete(spark):
    df = spark.range(10000).withColumnRenamed("id", "doc_id")
    out = S.split(df, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10000  # fractions sum to 1: nothing dropped
    assert counts["train"] > 7500
    # determinism: same assignment on re-run
    out2 = {r.doc_id: r.split for r in S.split(df, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id").collect()}
    for r in out.collect()[:100]:
        assert out2[r.doc_id] == r.split
