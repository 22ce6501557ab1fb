"""Dedup family + similarity search (ext.dedup, ext.similarity)."""

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark.ext.dedup import (
    exact_dedup,
    hamming64,
    minhash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash_portable,
)
from assignment_etl_spark.ext.similarity import (
    brute_force_topk,
    brute_force_topk_pandas,
    cosine,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from the fence "
    "and the birds sing in the morning light across the quiet meadow near the river"
)
NEAR = BASE.replace("quiet meadow", "silent meadow")
OTHER = (
    "completely unrelated content about distributed query engines shuffling data "
    "across partitions with adaptive execution and columnar storage formats"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, BASE),
            (1, BASE),  # exact dup of 0
            (2, NEAR),  # near dup of 0
            (3, OTHER),
            (4, "  " + BASE + "  "),  # whitespace-variant exact dup
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_first(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [0, 2, 3]  # 1 and 4 are exact dups of 0 after normalization


def test_minhash_finds_near_dups(docs):
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found  # exact dup always collides
    assert (0, 2) in found or (1, 2) in found  # near dup found
    assert all({p[0], p[1]} != {0, 3} for p in found)  # unrelated not paired
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(0, 1)] == 1.0


def test_minhash_dedup_survivors(docs):
    kept = sorted(r.doc_id for r in minhash_dedup(docs, jaccard_threshold=0.3).collect())
    assert 0 in kept and 3 in kept
    assert 1 not in kept


def test_ngram_jaccard(spark):
    df = spark.createDataFrame([(BASE, BASE), (BASE, OTHER)], "a string, b string")
    got = [r.j for r in df.select(ngram_jaccard(F.col("a"), F.col("b")).alias("j")).collect()]
    assert got[0] == 1.0
    assert got[1] < 0.2


def test_simhash_hamming(spark):
    df = spark.createDataFrame([(0, BASE), (1, NEAR), (2, OTHER)], "i int, text string")
    sh = {r.i: r.h for r in df.select("i", simhash_portable(F.col("text"), bits=16).alias("h")).collect()}
    d_near = spark.range(1).select(hamming64(F.lit(sh[0]), F.lit(sh[1])).alias("d")).first().d
    d_far = spark.range(1).select(hamming64(F.lit(sh[0]), F.lit(sh[2])).alias("d")).first().d
    assert d_near <= d_far


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


def test_brute_force_topk(embeddings):
    out = brute_force_topk(embeddings.filter(F.col("vec_id") < 3), embeddings, 4)
    rows = out.collect()
    assert len(rows) == 12  # 3 queries × k=4
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    for q, rs in by_q.items():
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_pandas_topk_matches_jvm(embeddings):
    q = embeddings.filter(F.col("vec_id") < 3)
    jvm = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_force_topk(q, embeddings, 4).collect()
    }
    pnd = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_force_topk_pandas(q, embeddings, 4).collect()
    }
    assert jvm == pnd


def test_lsh_topk_recall(embeddings):
    """LSH with few planes must recover most of the exact top-1s."""
    q = embeddings.filter(F.col("vec_id") < 20)
    exact_top1 = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(q, embeddings, 1).collect()
    }
    approx = {
        r.query_id: r.neighbor_id
        for r in lsh_topk(q, embeddings, 1, dim=64, n_planes=4).collect()
    }
    hits = sum(1 for k, v in approx.items() if exact_top1.get(k) == v)
    assert len(approx) >= 15  # most queries find a same-bucket neighbor
    assert hits / max(len(approx), 1) >= 0.5


def test_semantic_dedup_keep_min_id(spark):
    from assignment_etl_spark.ext.dedup import semantic_dedup

    # two tight direction groups (clusters) plus a lone outlier; within a
    # group every vector is near-parallel (cosine ~1), across groups ~0
    # ids 1/2/3 are one per group so the smallest-id k-means init starts
    # with one seed in each direction group
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (4, [0.99, 0.01, 0.0, 0.0]),
        (5, [0.98, 0.02, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.99, 0.01, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            emb, id_col="vec_id", vec_col="embedding", k=3, iters=2,
            threshold=0.95,
        ).collect()
    }
    assert len(out) == 6
    # min id of each near-dup group survives; clustermates above τ dropped
    assert not out[1].is_dup and out[4].is_dup and out[5].is_dup
    assert not out[2].is_dup and out[11].is_dup
    assert not out[3].is_dup
    # near-dups are only ever compared within their own cluster
    assert out[1].cidx == out[4].cidx == out[5].cidx
    assert out[2].cidx == out[11].cidx


def test_minhash_dedup_keep_best(spark):
    from assignment_etl_spark.ext.dedup import minhash_dedup_keep_best

    long_a = "the quick brown fox jumps over the lazy dog again and again. " * 8
    # near-dup: same text with a short appended tail (high shingle overlap)
    long_b = long_a + "appended tail"
    other = "completely different content about spark window aggregates here. " * 8
    docs = spark.createDataFrame(
        [(1, long_b), (2, long_a), (3, other)], "doc_id long, text string"
    )
    # score favors doc 2 (higher id than 1 — keep-min-id would pick 1)
    score = F.when(F.col("doc_id") == 2, 0.9).otherwise(0.1)
    out = {
        r.doc_id: r
        for r in minhash_dedup_keep_best(
            docs, score, jaccard_threshold=0.3, rounds=2
        ).collect()
    }
    assert len(out) == 3
    assert out[1].cluster == out[2].cluster != out[3].cluster
    assert not out[1].keep and out[2].keep  # best quality wins, not min id
    assert out[3].keep                       # singleton survives


def test_null_text_docs_never_collapse(spark):
    """Regression (r9 ADVICE): Spark's xxhash64 returns the seed for NULL
    input, so an unguarded exact-collapse fingerprints every NULL-text
    doc identically and silently drops all but one — drops the
    uncollapsed run never makes (NULL shingles can't form verified
    pairs). Each NULL-text doc must stay its own representative and
    survive every dedup flavor — including the incremental path fed
    precomputed signatures, where a NULL signature must pass the
    signature-length check instead of raising."""
    from assignment_etl_spark.ext.dedup import (
        _collapse_exact,
        _sig_frame,
        build_band_store,
        incremental_minhash_dedup,
        minhash_dedup_cc,
        minhash_dedup_keep_best,
    )

    docs = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, None), (3, None), (4, OTHER), (5, None)],
        "doc_id long, text string",
    )
    reps, edges = _collapse_exact(docs, text_col="text", id_col="doc_id")
    assert sorted(r.doc_id for r in reps.collect()) == [0, 2, 3, 4, 5]
    assert [(r.id_a, r.id_b) for r in edges.collect()] == [(0, 1)]

    kept = sorted(
        r.doc_id for r in minhash_dedup(docs, jaccard_threshold=0.3).collect()
    )
    assert kept == [0, 2, 3, 4, 5]

    cc = minhash_dedup_cc(docs, jaccard_threshold=0.3)
    assert sorted(r.doc_id for r in cc.collect()) == [0, 2, 3, 4, 5]

    kb = {
        r.doc_id: r.keep
        for r in minhash_dedup_keep_best(
            docs, F.lit(0.5), jaccard_threshold=0.3, rounds=2
        ).collect()
    }
    assert kb[2] and kb[3] and kb[5]  # every NULL-text doc survives

    null_ids = {2, 3, 5}
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(0, 1)]

    sig = _sig_frame(
        docs, text_col="text", id_col="doc_id", num_hashes=32, shingle_n=5, seed=7
    )
    assert {r._id for r in sig.filter(F.col("_sig").isNull()).collect()} == null_ids
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    hist_sig = sig.filter(F.col("_id") % 2 == 0)
    surv, _delta, dropped = incremental_minhash_dedup(
        batch,
        build_band_store(hist, signatures=hist_sig),
        history_texts=hist,
        jaccard_threshold=0.3,
        batch_signatures=sig.filter(F.col("_id") % 2 == 1),
        history_signatures=hist_sig,
    )
    assert [(r.doc_id, r.reason, r.keeper) for r in dropped.collect()] == [
        (1, "dup_history", 0)
    ]
    assert sorted(r.doc_id for r in surv.collect()) == [3, 5]


def test_hard_negatives_label_exclusion(spark):
    from assignment_etl_spark.ext.similarity import hard_negatives

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.99, 0.01]),   # same label as 1 — never a negative for 1
        (3, 1, [0.98, 0.02]),   # different label, very close — hard
        (4, 1, [0.0, 1.0]),     # different label, orthogonal — easy
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = sorted(
        hard_negatives(emb.filter("vec_id = 1"), emb, 2).collect(),
        key=lambda r: r.rank,
    )
    assert [r.neighbor_id for r in out] == [3, 4]
    assert all(r.neighbor_label != r.query_label for r in out)
    assert out[0].cos_sim > out[1].cos_sim
