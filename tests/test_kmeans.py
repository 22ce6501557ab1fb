"""Portable k-means (ext/kmeans.py): convergence on separable data,
determinism across partitionings, empty-cluster survival."""

from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.ext.kmeans import kmeans


def _clusters(spark, reps=1):
    # three tight blobs around (0,0), (10,0), (0,10)
    rows = []
    pid = 0
    for _ in range(reps):
        for cx, cy in ((0.0, 0.0), (10.0, 0.0), (0.0, 10.0)):
            for dx, dy in ((0.1, 0.0), (-0.1, 0.1), (0.0, -0.1), (0.2, 0.1)):
                rows.append((pid, [cx + dx, cy + dy]))
                pid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_separable_blobs_recovered(spark):
    df = _clusters(spark)
    assign, cents = kmeans(df, k=3, iters=3)
    got = {r.pid: r.cidx for r in assign.collect()}
    # all members of a blob share a cluster; different blobs differ
    blobs = [set(range(0, 4)), set(range(4, 8)), set(range(8, 12))]
    labels = [{got[p] for p in b} for b in blobs]
    assert all(len(l) == 1 for l in labels)
    assert len({next(iter(l)) for l in labels}) == 3
    # centroids land near blob centers
    cs = {r.cidx: r.c for r in cents.collect()}
    mags = sorted(round(sum(v), 6) for v in cs.values())
    # exact offset means per blob: (0.05, 0.025) → sums 0.075 / 10.075
    assert mags == [0.075, 10.075, 10.075]


def test_deterministic_across_partitionings(spark):
    df = _clusters(spark, reps=8)
    a1, c1 = kmeans(df.repartition(1), k=3, iters=2)
    a2, c2 = kmeans(df.repartition(13), k=3, iters=2)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def test_empty_cluster_keeps_centroid(spark):
    # k=3 over two distinct points: one init centroid never wins a point
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [100.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assign, cents = kmeans(df, k=3, iters=2)
    assert cents.count() == 3  # survived with its previous position
    got = {r.pid: r.cidx for r in assign.collect()}
    assert got[1] == got[2] != got[3]


def test_assignment_distances_are_squared_l2(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    assign, _ = kmeans(df, k=2, iters=1)
    d = {r.pid: r.dist for r in assign.collect()}
    assert d[1] == 0.0 and d[2] == 0.0  # both are their own centroids


def test_squared_l2_unrolled_bit_identical_to_fold(spark):
    """r10: the size-gated codegen unroll must produce BIT-identical
    doubles to the portable fold (same left-assoc addition order) —
    the oracle replays the fold, so any divergence is a wrong answer."""
    import assignment_etl_spark.ext.kmeans as KM
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 7) % 97) / 9.7 - 5.0 for j in range(16)],
             [((i * 13 + j * 3) % 89) / 8.9 - 5.0 for j in range(16)])
            for i in range(200)
        ],
        "id long, v array<double>, c array<double>",
    )
    a = df.select("id", KM.squared_l2(F.col("v"), F.col("c")).alias("d")).collect()
    b = df.select(
        "id", KM.squared_l2(F.col("v"), F.col("c"), dim=16).alias("d")
    ).collect()
    assert {r.id: r.d for r in a} == {r.id: r.d for r in b}


def test_stats_unroll_heuristic(spark, tmp_path):
    """Small inputs keep the fold — including checkpointed frames
    (Spark 4 LogicalRDD preserves the source stats; if an engine
    version reports the 2^63 unknown sentinel instead, _stats_bytes
    maps it to 0, which also keeps the fold)."""
    import assignment_etl_spark.ext.kmeans as KM

    small = spark.range(100).selectExpr("id", "array(1.0d, 2.0d) as v")
    small.write.mode("overwrite").parquet(str(tmp_path / "t"))
    pq = spark.read.parquet(str(tmp_path / "t"))
    assert KM.stats_unroll(pq) is False
    ck = pq.localCheckpoint(True)
    assert KM._stats_bytes(ck) < (1 << 60)
    assert KM.stats_unroll(ck) is False


def test_stats_unroll_join_not_product_inflated(spark, tmp_path):
    """The round-10 landmine, un-landmined: a join of small scans
    carries a PRODUCT-inflated root sizeInBytes (no CBO stats), which
    the old root-based gate read as "big" and unrolled; the scan-based
    verdict must keep the fold. A self-join chain of a ~8 KB table
    inflates the root estimate well past UNROLL_MIN_BYTES while every
    leaf stays tiny."""
    import assignment_etl_spark.ext.kmeans as KM

    small = spark.range(200).selectExpr(
        "id", "cast(id % 7 as long) as k", "array(1.0d, 2.0d) as v"
    )
    small.write.mode("overwrite").parquet(str(tmp_path / "j"))
    pq = spark.read.parquet(str(tmp_path / "j"))
    joined = pq
    for i in range(3):
        joined = joined.join(
            pq.select("k", F.col("id").alias(f"id{i}")), on="k"
        )
    root = internals.plan_size_bytes(internals.optimized_plan(joined))
    assert root >= KM.UNROLL_MIN_BYTES, (
        f"fixture no longer inflates the root estimate ({root} bytes) — "
        "deepen the join chain"
    )
    assert KM._stats_bytes(joined) < KM.UNROLL_MIN_BYTES
    assert KM.stats_unroll(joined) is False


def test_stats_unroll_projection_prefers_pruned_root(spark, tmp_path):
    """Column pruning shrinks the root estimate below the leaf's; the
    gate trusts the smaller (the downstream assign scans only the
    projected columns)."""
    import assignment_etl_spark.ext.kmeans as KM

    wide = spark.range(500).selectExpr(
        "id", "repeat('x', 200) as pad", "array(1.0d, 2.0d) as v"
    )
    wide.write.mode("overwrite").parquet(str(tmp_path / "w"))
    pq = spark.read.parquet(str(tmp_path / "w"))
    narrow = pq.select("id", "v")
    assert KM._stats_bytes(narrow) <= KM._stats_bytes(pq)


def test_stats_probe_failure_warns_once(spark, monkeypatch, caplog):
    """A broken private-API probe logs a warning (once) instead of
    silently disabling the unroll forever (ADVICE r10)."""
    import logging

    import assignment_etl_spark.ext.kmeans as KM

    class _Boom:
        def __getattr__(self, name):
            raise RuntimeError("private API renamed")

    df = spark.range(10).selectExpr("id", "array(1.0d) as v")
    monkeypatch.setattr(KM, "_stats_probe_warned", False)
    monkeypatch.setattr(
        type(df), "_jdf", property(lambda self: _Boom()), raising=False
    )
    with caplog.at_level(logging.WARNING, logger=KM.__name__):
        assert KM._stats_bytes(df) == 0
        assert KM._stats_bytes(df) == 0
    warn_lines = [
        r for r in caplog.records if "stats probe failed" in r.getMessage()
    ]
    assert len(warn_lines) == 1


def test_kmeans_result_independent_of_unroll(spark, monkeypatch):
    """Forcing the unroll on a tiny input yields the exact assignments
    and centroids of the default (fold) path."""
    import assignment_etl_spark.ext.kmeans as KM

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    a1, c1 = KM.kmeans(emb, k=3, iters=2)
    r1 = (sorted(map(tuple, a1.collect())), sorted(map(tuple, c1.collect())))
    monkeypatch.setattr(KM, "UNROLL_MIN_BYTES", 0)
    a2, c2 = KM.kmeans(emb, k=3, iters=2)
    r2 = (sorted(map(tuple, a2.collect())), sorted(map(tuple, c2.collect())))
    assert r1 == r2
