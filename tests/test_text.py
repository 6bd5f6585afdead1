"""Text-analysis operators vs Python mirrors."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_osm_queries_spark.operators import text as ops

SAMPLES = [
    (0, "The quick brown fox, jumps over the lazy dog."),
    (1, "der die und ein Hund lief schnell"),
    (2, "el la los una casa grande"),
    (3, "le les et une maison"),
    (4, "completely markerless wordsalad vector batch"),
    (5, "a of to in is it the and"),
    (6, "x"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(SAMPLES, columns=["doc_id", "text"])).cache()


def test_token_counts(docs):
    got = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id", ops.bpe_ish_token_count(F.col("text")).alias("b")
        ).collect()
    }
    for doc_id, t in SAMPLES:
        assert got[doc_id] == len(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", t))


def test_quality_features(docs):
    rows = {r.doc_id: r for r in ops.quality_score(docs).collect()}
    r0 = rows[0]
    t0 = SAMPLES[0][1]
    words = t0.lower().split()
    assert r0.n_chars_calc == len(t0)
    assert r0.n_tokens == len(words)
    assert r0.punct_ratio == pytest.approx(2 / len(t0))  # one ',' + one '.'
    stop_hits = sum(1 for w in words if w in ops.STOPWORDS)
    assert r0.stopword_ratio == pytest.approx(stop_hits / len(words))
    assert 0.0 <= r0.quality <= 1.0
    assert rows[5].stopword_ratio == pytest.approx(1.0)


def test_lang_id(docs):
    got = {r.doc_id: r.pred_lang for r in ops.lang_id(docs).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "es"
    assert got[3] == "fr"
    assert got[4] == "und"


def test_fingerprint_normalization_stable(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "  HELLO WORLD  "), (3, "hello worlds")],
        "id long, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", ops.doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[0] == fps[1] == fps[2]
    assert fps[3] != fps[0]
