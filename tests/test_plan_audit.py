"""Plan fingerprints (tools/plan_audit.py): the walk on known plan shapes,
the plan shape each showcase query is written for, and the drift check of
every headline query's live fingerprint against PLANAUDIT.json."""

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
import bench
from tools.plan_audit import OUT, REGENERATE, plan_fingerprint, query_fingerprint

# query -> (the plan shape it is written for, the counts that say so)
SHOWCASE = {
    "pricing_summary": (
        "filter pushed to parquet, one scan, one aggregation shuffle (partial "
        "then final) and the sort's; whole-stage codegen",
        {"FileSourceScan": 1, "pushdown": 1, "ShuffleExchange": 2, "Sort": 1,
         "WholeStageCodegen": 3},
    ),
    "revenue_by_region": (
        "three broadcast hash joins, no sort-merge join; the only shuffles "
        "are the final aggregation's and the sort's; scans pushed down",
        {"BroadcastHashJoin": 3, "BroadcastExchange": 3, "SortMergeJoin": 0,
         "ShuffleExchange": 2, "pushdown": 4},
    ),
    "top_users_by_events": (
        "TakeOrderedAndProject, no global Sort",
        {"TakeOrderedAndProject": 1, "Sort": 0},
    ),
    "top_orders_per_customer": (
        "one shuffle, the window's partitioning, and one Window (rank)",
        {"ShuffleExchange": 1, "Window": 1},
    ),
    "histogram_extendedprice": (
        "bucket arithmetic is a JVM expression; one shuffle over <=30 keys",
        {"ShuffleExchange": 1, "ArrowEvalPython": 0, "BatchEvalPython": 0},
    ),
    "unit_normalization": (
        "the staged F1 chain: each regex primitive evaluated once, in the JVM",
        {"regex": 6, "ArrowEvalPython": 0, "BatchEvalPython": 0},
    ),
    "weight_normalization": (
        "staged F2: one aggregation over the reason keys, then the sort",
        {"ShuffleExchange": 2, "regex": 1},
    ),
    "skewed_agg_salted": (
        "two aggregation shuffles, (keys, salt) partial then the keys merge, "
        "then the sort's",
        {"ShuffleExchange": 3},
    ),
    "hash_split_documents": (
        "split assignment is a projection: no shuffle but the final count "
        "aggregation's and the sort's",
        {"ShuffleExchange": 2},
    ),
    "gopher_quality_flags": (
        "all flags from one documents scan, one aggregation on lang, then "
        "the sort",
        {"FileSourceScan": 1, "ShuffleExchange": 2},
    ),
    "sole_returning_supplier": (
        "Q21: hash joins only, never a nested loop; dims broadcast",
        {"BroadcastHashJoin": 4, "SortMergeJoin": 0,
         "BroadcastNestedLoopJoin": 0, "CartesianProduct": 0},
    ),
    "order_count_distribution": (
        "Q13: two aggregations, the second over a tiny key space, then the "
        "sort",
        {"ShuffleExchange": 3},
    ),
    "segment_order_stats": (
        "no Expand: orders pre-aggregated per custkey before the customer "
        "join, countDistinct rewritten away",
        {"Expand": 0},
    ),
    "scd2_point_in_time": (
        "point-in-time lookup as union + window per key: no join of any kind",
        {"BroadcastHashJoin": 0, "SortMergeJoin": 0,
         "BroadcastNestedLoopJoin": 0, "CartesianProduct": 0},
    ),
    "shuffle_head": (
        "TakeOrderedAndProject over the salted hash, no global Sort",
        {"TakeOrderedAndProject": 1, "Sort": 0},
    ),
}


@pytest.fixture(scope="module")
def live(spark, sf_dir):
    """``live(name)``: the query's fingerprint and hard violations, built
    cache-cold in the test session, once per module."""
    queries, memo = entry.queries(), {}

    def fingerprint(name):
        if name not in memo:
            memo[name] = query_fingerprint(spark, queries[name], sf_dir)
        return memo[name]

    return fingerprint


def test_broadcast_join_counts_no_shuffle(spark):
    j = spark.range(100).join(F.broadcast(spark.range(10)), "id")
    j.collect()
    fp = plan_fingerprint(j)
    assert (fp["BroadcastExchange"], fp["ShuffleExchange"]) == (1, 0)
    assert fp["BroadcastHashJoin"] == 1


def test_cache_read_twice_counts_its_plan_once(spark):
    c = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().persist()
    try:
        j = c.join(F.broadcast(c), "k")
        j.collect()
        fp = plan_fingerprint(j)
    finally:
        c.unpersist(True)
    assert fp["InMemoryTableScan"] == 2
    assert (fp["ShuffleExchange"], fp["BroadcastExchange"]) == (1, 1)


@pytest.mark.parametrize("name", [
    "pricing_summary",          # scan + single hash agg
    "revenue_by_region",        # broadcast star join
    "perplexity_top_docs",      # LM train+score, windows + broadcasts
    "minhash_lsh_pairs",        # LSH banding self-join
    "top_orders_per_customer",  # window ranking
])
def test_no_hard_violations_live(live, name):
    _, bad = live(name)
    assert not bad, bad  # HARD node classes, gwin, sbits, broadcast hints


def test_star_join_broadcasts_and_pushes_down(live):
    fp, _ = live("revenue_by_region")
    assert fp["BroadcastHashJoin"] >= 3  # region/nation/customer dims broadcast
    assert fp["pushdown"] >= 1


@pytest.mark.parametrize("name", SHOWCASE)
def test_showcase_plan_shape(live, name):
    shape, want = SHOWCASE[name]
    fp, _ = live(name)
    assert {k: fp[k] for k in want} == want, shape


def test_fingerprints_match_planaudit(live):
    """Every headline query's live fingerprint equals its PLANAUDIT.json
    entry, and none has a hard violation."""
    with open(OUT) as f:
        committed = json.load(f)
    moved, hard = [], []
    for name in bench.HEADLINE:
        fp, bad = live(name)
        hard += [f"{name}: {b}" for b in bad]
        want = committed.get(name, {})
        diff = [f"{k} {want.get(k)} -> {v}" for k, v in fp.items() if want.get(k) != v]
        if diff:
            moved.append(f"{name}: {', '.join(diff)}")
    assert not hard, f"hard plan violations: {hard}"
    assert not moved, (
        "plan fingerprints drifted from PLANAUDIT.json:\n  " + "\n  ".join(moved)
        + f"\nif the change is deliberate, regenerate with: {REGENERATE}"
    )
