"""Native store: partition pruning + shuffle-free bucketed joins."""

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.io.store import (
    compact_parquet,
    read_table,
    write_bucketed_table,
    write_partitioned,
)


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """200 tiny files -> sized file count; content identical; sort_by
    restores clustering (each output file covers a disjoint id range)."""
    import glob

    path = str(tmp_path / "frag")
    df = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), F.rand(7).alias("x")
    )
    df.repartition(200).write.parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) == 200
    before = df.agg(F.count(F.lit(1)), F.sum("id")).first()

    total = sum(
        __import__("os").path.getsize(f) for f in glob.glob(f"{path}/*.parquet")
    )
    target = max(1, total // 4)  # aim for ~4-5 files
    n = compact_parquet(spark, path, target_file_bytes=target, sort_by=["id"])

    files = glob.glob(f"{path}/*.parquet")
    assert len(files) == n <= 8
    back = spark.read.parquet(path)
    assert back.agg(F.count(F.lit(1)), F.sum("id")).first() == before
    # clustering restored: per-file id ranges are disjoint
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for ci in range(md.num_columns):
            col = md.row_group(0).column(ci)
            if col.path_in_schema == "id":
                lo = min(
                    md.row_group(rg).column(ci).statistics.min
                    for rg in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(rg).column(ci).statistics.max
                    for rg in range(md.num_row_groups)
                )
                ranges.append((lo, hi))
    ranges.sort()
    for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
        assert ahi < blo


def test_partition_pruning(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("part")
    )
    path = str(tmp_path / "pp")
    write_partitioned(df, path, ["part"])
    q = spark.read.parquet(path).filter(F.col("part") == 2)
    assert q.count() == 250
    plan = internals.executed_plan_string(q)
    # the partition filter prunes directories at planning time
    assert "PartitionFilters: [isnotnull(part" in plan


@pytest.fixture(scope="module")
def bucketed(spark):
    # a previous session's warehouse dir survives while the in-memory
    # catalog does not — drop both so saveAsTable starts clean
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed_table(orders, "orders_b", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    write_bucketed_table(
        lineitem, "lineitem_b", ["l_orderkey"], 8, sort_by=["l_orderkey"]
    )
    return read_table(spark, "orders_b"), read_table(spark, "lineitem_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    orders_b, lineitem_b = bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        j = orders_b.join(lineitem_b, orders_b.o_orderkey == lineitem_b.l_orderkey)
        plan = internals.executed_plan_string(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: neither side shuffles
        assert j.count() == lineitem_b.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_bucketed_agg_skips_exchange(spark, bucketed):
    orders_b, _ = bucketed
    q = orders_b.groupBy("o_orderkey").agg(F.sum("o_totalprice"))
    plan = internals.executed_plan_string(q)
    assert "Exchange" not in plan  # grouping key == bucket key


def test_compact_parquet_empty_dir_returns_zero(spark, tmp_path):
    path = str(tmp_path / "nothing")
    assert compact_parquet(spark, path) == 0
    import os
    os.makedirs(path)
    assert compact_parquet(spark, path) == 0


def test_compact_parquet_no_leftover_temp_dirs(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)
    compact_parquet(spark, path)
    leftovers = [p for p in tmp_path.iterdir() if "__compact" in p.name]
    assert leftovers == []
    assert spark.read.parquet(path).count() == 100
