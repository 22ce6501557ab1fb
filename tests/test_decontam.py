"""Decontamination: n-gram construction, hit counting, anti-join filter."""

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.ext.decontam import (
    contamination_hits,
    decontaminate,
    word_ngrams,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox jumps over a sleeping cat"),
            (3, "completely unrelated text about spark joins"),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )


def test_word_ngrams_basic(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    got = df.select(word_ngrams(F.col("t"), 3).alias("g")).first().g
    assert got == ["a b c", "b c d"]


def test_word_ngrams_short_text_empty(spark):
    df = spark.createDataFrame([("a b",), ("",)], "t string")
    rows = df.select(word_ngrams(F.col("t"), 3).alias("g")).collect()
    assert all(r.g == [] for r in rows)


def test_word_ngrams_whitespace_normalization(spark):
    df = spark.createDataFrame([("  a   b\tc  ",)], "t string")
    got = df.select(word_ngrams(F.col("t"), 2).alias("g")).first().g
    assert got == ["a b", "b c"]


def test_hits_and_decontaminate(spark, corpus):
    bench = corpus.filter(F.col("doc_id") == 1)
    hits = {r.doc_id: r.n_hits for r in contamination_hits(corpus, bench, n=4).collect()}
    # doc 1 matches itself on all six 4-grams; doc 2 shares
    # "quick brown fox jumps" and "brown fox jumps over"
    assert hits[1] == 6
    assert hits[2] == 2
    assert 3 not in hits and 4 not in hits
    clean = decontaminate(corpus, bench, n=4)
    assert {r.doc_id for r in clean.select("doc_id").collect()} == {3, 4}
    # higher threshold spares the partially-overlapping doc
    clean3 = decontaminate(corpus, bench, n=4, min_hits=3)
    assert {r.doc_id for r in clean3.select("doc_id").collect()} == {2, 3, 4}


def test_decontaminate_broadcast_plan(spark, corpus):
    bench = corpus.filter(F.col("doc_id") == 1)
    plan = internals.executed_plan_string(decontaminate(corpus, bench, n=4))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_novelty_scores(spark):
    from assignment_etl_spark.ext.decontam import novelty_scores

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),   # fully seen -> 0.0
            (2, "a totally different sentence here entirely"),  # all novel
            (3, "the quick brown cat runs away"),    # 1 of 4 grams seen
            (4, "too short"),                        # <3 words -> NULL
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in novelty_scores(corpus, ref, n=3).collect()}
    assert out[1].novelty == 0.0
    assert out[2].novelty == 1.0
    assert out[3].n_grams == 4 and out[3].n_novel == 3
    assert abs(out[3].novelty - 0.75) < 1e-9
    assert out[4].novelty is None and out[4].n_grams == 0
