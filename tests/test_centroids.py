"""Cluster centroids: exact means, plan shape (no Expand/posexplode of
the data), portable-rounding path."""

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.ext.similarity import centroids_long, cluster_centroids


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 2.0, 4.0]),
        (0, [3.0, 2.0, 0.0]),
        (1, [10.0, -10.0, 0.5]),
    ]
    return spark.createDataFrame(rows, "label int, embedding array<float>")


def test_centroid_values(emb):
    got = {r.label: (r.n, r.centroid) for r in cluster_centroids(emb, dim=3).collect()}
    assert got[0] == (2, [2.0, 2.0, 2.0])
    assert got[1] == (1, [10.0, -10.0, 0.5])


def test_portable_path_matches_exact_on_clean_values(emb):
    a = {r.label: r.centroid for r in cluster_centroids(emb, dim=3).collect()}
    b = {
        r.label: r.centroid
        for r in cluster_centroids(emb, dim=3, input_round=6).collect()
    }
    assert a == b


def test_long_form(emb):
    cents = cluster_centroids(emb, dim=3)
    rows = centroids_long(cents).filter(F.col("label") == 0).orderBy("pos").collect()
    assert [(r.pos, r.value) for r in rows] == [(0, 2.0), (1, 2.0), (2, 2.0)]
    assert all(r.n == 2 for r in rows)


def test_plan_has_no_expand_or_generate(emb):
    plan = internals.executed_plan_string(cluster_centroids(emb, dim=3))
    assert "Expand" not in plan and "Generate" not in plan


def test_partitioning_invariance_portable(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i % 7, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    a = cluster_centroids(df, dim=8, input_round=6)
    b = cluster_centroids(df.repartition(31), dim=8, input_round=6)
    ja = {r.label: r.centroid for r in a.collect()}
    jb = {r.label: r.centroid for r in b.collect()}
    assert ja == jb  # exact equality, not approx: decimal sums are associative
