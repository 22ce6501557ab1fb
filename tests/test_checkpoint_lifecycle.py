"""Checkpoint-RDD lifecycle: discard-after-write paths must not leak.

localCheckpoint RDDs live outside the CacheManager — clearCache cannot
free them and the ContextCleaner only reaps them on a driver GC — so
any checkpoint-then-discard site leaks storage at steady state (one
RDD per upsert batch / per Lloyd iteration). These tests pin the one
release path in `caching.released_local_checkpoint`: it unpersists
exactly the caller's own checkpoint RDD, raises when the capture
crossing fails, and the store's rewrite-in-place writers, the
streaming sinks and the portable trainers leave ZERO persistent RDDs
behind. Operators that RETURN a checkpointed frame (temp-dir-pinned
gates, bpe/unigram trainers) are exempt by contract — the caller owns
release — and are not asserted here.
"""

import pytest


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _release_all(spark):
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        jmap.get(k).unpersist(False)


@pytest.fixture(autouse=True)
def clean_slate(spark):
    _release_all(spark)
    yield


def test_upsert_parquet_releases_checkpoints(spark, tmp_path):
    from assignment_etl_spark.io.store import upsert_parquet

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "k long, p int, v double"
    )
    base.write.partitionBy("p").parquet(path)
    upd = spark.createDataFrame(
        [(5, 1, 99.0), (31, 2, 31.0)], "k long, p int, v double"
    )
    upsert_parquet(spark, path, upd, ["k"], partition_by=["p"])
    assert _persistent_rdd_count(spark) == 0
    # unpartitioned branch too
    path2 = str(tmp_path / "t2")
    base.drop("p").write.parquet(path2)
    upsert_parquet(spark, path2, upd.drop("p"), ["k"])
    assert _persistent_rdd_count(spark) == 0
    got = {r.k: r.v for r in spark.read.parquet(path2).collect()}
    assert got[5] == 99.0 and got[31] == 31.0 and len(got) == 31


def test_delete_by_keys_releases_checkpoints(spark, tmp_path):
    from assignment_etl_spark.io.store import delete_by_keys

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    ).write.parquet(path)
    res = delete_by_keys(spark, path, "k", [3, 7])
    assert res["n_rows_deleted"] == 2
    assert _persistent_rdd_count(spark) == 0
    assert spark.read.parquet(path).count() == 18


def test_kmeans_and_pq_leave_no_persistent_rdds(spark):
    # r13: the Lloyd input (pts) is now a REGISTRY-OWNED scoped persist
    # (consumed once per iteration + the final assign — measured 1.2x at
    # sf10 on ivfpq/pq_adc), so the lifecycle contract is "released by
    # release_scoped_caches", not "never persists". Checkpoint RDDs —
    # the r12 leak class this test was written for — must still never
    # appear: those live outside the registry AND outside the cache
    # manager, which is exactly why the trainers avoid them.
    from assignment_etl_spark.caching import release_scoped_caches
    from assignment_etl_spark.ext.kmeans import kmeans
    from assignment_etl_spark.ext.pq import pq_train

    release_scoped_caches()
    base = _persistent_rdd_count(spark)
    emb = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) for j in range(8)])
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )
    a, c = kmeans(emb, k=3, iters=2)
    a.count(), c.count()
    release_scoped_caches()
    assert _persistent_rdd_count(spark) == base
    codes, cents = pq_train(emb, m=2, k=4, d_sub=4)
    codes.count(), cents.count()
    release_scoped_caches()
    assert _persistent_rdd_count(spark) == base


def test_stream_upsert_sink_releases_per_batch_checkpoints(spark, tmp_path):
    from assignment_etl_spark.ext.streaming import (
        read_events_stream,
        stream_upsert_sink,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i % 5, i, float(i)) for i in range(20)],
        "user_id long, seq long, value double",
    ).write.parquet(src)
    out = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    q = stream_upsert_sink(
        read_events_stream(spark, src, max_files_per_trigger=1),
        path=out,
        key=["user_id"],
        order_cols=["seq"],
        checkpoint=ck,
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 5
    assert _persistent_rdd_count(spark) == 0


def test_released_local_checkpoint_is_caller_exact(spark):
    """ADVICE r9 (medium): release must unpersist ONLY the caller's own
    checkpoint RDD. An overlapping caller's in-flight checkpoint — here
    simulated by persisting/checkpointing other frames INSIDE the
    with-block, as a concurrent foreachBatch sink would — must survive
    caller A's exit and stay readable (localCheckpoint severs lineage,
    so a wrongful unpersist is unrecoverable)."""
    from assignment_etl_spark.io.store import released_local_checkpoint

    a = spark.range(50).selectExpr("id", "id * 2 as v")
    with released_local_checkpoint(a) as ck_a:
        # "caller B" checkpoints while A's block is open
        b = spark.range(30).selectExpr("id", "id + 1 as w").localCheckpoint(True)
        assert ck_a.count() == 50
    # A's exit must not have touched B's checkpoint
    assert b.count() == 30
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    levels = [
        jmap.get(k).getStorageLevel().useMemory()
        or jmap.get(k).getStorageLevel().useDisk()
        for k in jmap.keySet().toArray()
    ]
    assert any(levels), "caller B's checkpoint RDD was released by caller A"
    _release_all(spark)
    assert _persistent_rdd_count(spark) == 0


def test_released_local_checkpoint_releases_own(spark):
    from assignment_etl_spark.io.store import released_local_checkpoint

    df = spark.range(40).selectExpr("id", "id * 3 as v")
    with released_local_checkpoint(df) as ck:
        assert ck.count() == 40
        assert _persistent_rdd_count(spark) >= 1
    assert _persistent_rdd_count(spark) == 0


def test_release_raises_when_capture_fails(spark, monkeypatch):
    """One release path, no degraded mode: when the checkpoint-RDD
    capture crossing fails, the helper raises (naming the crossing's
    error) instead of running the write with nothing to release."""
    from assignment_etl_spark import internals
    from assignment_etl_spark.caching import released_local_checkpoint

    def gone(ck):
        raise AttributeError("'JavaObject' object has no attribute 'rdd'")

    monkeypatch.setattr(internals, "checkpoint_rdd", gone)
    df = spark.range(20).selectExpr("id")
    with pytest.raises(AttributeError, match="rdd"):
        with released_local_checkpoint(df):
            pytest.fail("block ran without a captured checkpoint RDD")
    _release_all(spark)


def test_stats_severed_checkpoint_contract(spark):
    """r11: the severed checkpoint preserves the DATA and the
    persisted-RDD release path, but drops the origin stats to the
    unknown sentinel — chained checkpoints of joins must not compound
    product-inflated sizeInBytes into huge BigInts (the 19-minute
    planning grind; see SCALE.md r11)."""
    from pyspark.sql import functions as F

    from assignment_etl_spark import internals
    from assignment_etl_spark.caching import stats_severed_local_checkpoint

    df = spark.range(200).selectExpr("id", "id % 5 as k")
    j = df.join(df.selectExpr("id % 5 as k", "id as id2"), on="k")
    ck = stats_severed_local_checkpoint(j)
    assert ck.count() == j.count()
    bits = internals.plan_size_bytes(internals.optimized_plan(ck)).bit_length()
    assert bits <= 64, bits  # sentinel, not the preserved join product
    # chaining: a second severed checkpoint of a join over the first
    # stays at sentinel width instead of doubling digits
    j2 = ck.join(ck.selectExpr("k as k2", "id as id3"), ck.k == F.col("k2"))
    ck2 = stats_severed_local_checkpoint(j2)
    bits2 = internals.plan_size_bytes(internals.optimized_plan(ck2)).bit_length()
    assert bits2 <= 64, bits2
    assert _persistent_rdd_count(spark) >= 2
    _release_all(spark)
    assert _persistent_rdd_count(spark) == 0
