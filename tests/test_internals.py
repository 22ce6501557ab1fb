"""The private-py4j-crossing probe (VERDICT r11 ask #1).

Every ``df._jdf`` reach into Spark internals lives behind
`assignment_etl_spark/internals.py`; `internals.probe` exercises each
crossing against the live session. These tests make an engine-version
bump fail BY CROSSING NAME — one red test naming the broken API —
instead of the pre-r12 failure mode (scattered log warnings plus a
silently slower suite as every call site degrades to its fallback).
"""

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals


EXPECTED_CROSSINGS = [
    "query_execution",
    "analyzed_plan",
    "optimized_plan_stats",
    "plan_leaves",
    "executed_plan_string",
    "checkpoint_rdd",
    "severed_from_checkpoint",
    "cache_manager_is_empty",
    "persistent_rdd_ids",
    "physical_plan_nodes",
    "codegen_compiles",
]


def test_probe_green_on_this_engine(spark):
    """Every crossing works on the engine under test. A Spark bump that
    removes or changes one fails HERE, with the crossing's name in the
    assertion message."""
    results = internals.probe(spark)
    assert list(results) == EXPECTED_CROSSINGS
    broken = {k: v for k, v in results.items() if v is not None}
    assert not broken, f"private py4j crossings broken on this engine: {broken}"


def test_probe_fails_by_name_when_crossing_missing(spark, monkeypatch):
    """Simulate a Spark bump removing the LogicalRDD capture: the probe
    must report exactly the dependent crossings, by name, and leave the
    others green — the diagnostic shape the round-11 verdict asked for."""

    def gone(ck):
        raise AttributeError("'JavaObject' object has no attribute 'rdd'")

    monkeypatch.setattr(internals, "checkpoint_rdd", gone)
    results = internals.probe(spark)
    assert results["checkpoint_rdd"] is not None
    assert "rdd" in results["checkpoint_rdd"]
    # independent crossings stay green — the failure is attributed
    for name in EXPECTED_CROSSINGS:
        if name != "checkpoint_rdd":
            assert results[name] is None, (name, results[name])


def test_probe_fails_by_name_when_sever_missing(spark, monkeypatch):
    """Same for the internalCreateDataFrame constructor crossing."""

    def gone(ck):
        raise AttributeError(
            "'JavaObject' object has no attribute 'internalCreateDataFrame'"
        )

    monkeypatch.setattr(internals, "severed_from_checkpoint", gone)
    results = internals.probe(spark)
    assert results["severed_from_checkpoint"] is not None
    assert "internalCreateDataFrame" in results["severed_from_checkpoint"]
    assert results["checkpoint_rdd"] is None


def test_probe_fails_by_name_when_codegen_metrics_missing(spark, monkeypatch):
    """Same for the codegen counters: a Spark bump that drops
    ``CodegenMetrics`` fails the ``codegen_compiles`` entry alone."""

    def gone(spark):
        raise AttributeError(
            "org.apache.spark.metrics.source.CodegenMetrics does not exist in the JVM"
        )

    monkeypatch.setattr(internals, "codegen_compiles", gone)
    results = internals.probe(spark)
    assert "CodegenMetrics" in results["codegen_compiles"]
    for name in EXPECTED_CROSSINGS:
        if name != "codegen_compiles":
            assert results[name] is None, (name, results[name])


class _Without:
    """A JVM plan node whose class has lost one method."""

    def __init__(self, node, method):
        self._node, self._method = node, method

    def __getattr__(self, name):
        if name == self._method:
            raise AttributeError(f"'JavaObject' object has no attribute '{name}'")
        return getattr(self._node, name)


@pytest.mark.parametrize("method", ["isFinalPlan", "executedPlan", "plan"])
def test_probe_fails_by_name_when_final_plan_walk_missing(spark, monkeypatch, method):
    """Same for the walk of an executed plan: a Spark bump that drops
    AdaptiveSparkPlanExec's ``isFinalPlan``/``executedPlan`` or
    QueryStageExec's ``plan`` fails the ``physical_plan_nodes`` entry
    alone."""
    real = internals.wrapped_plan
    monkeypatch.setattr(
        internals, "wrapped_plan", lambda node: real(_Without(node, method))
    )
    results = internals.probe(spark)
    assert f"attribute '{method}'" in (results["physical_plan_nodes"] or "")
    for name in EXPECTED_CROSSINGS:
        if name != "physical_plan_nodes":
            assert results[name] is None, (name, results[name])


def test_call_sites_route_through_facade():
    """The facade is load-bearing: the production call sites import it
    rather than carrying their own _jdf reach — so the probe's verdict
    actually covers them. (String-level check keeps this test honest
    without executing the sites.)"""
    import inspect

    from assignment_etl_spark import caching
    from assignment_etl_spark.ext import kmeans, multimodal

    assert "internals.checkpoint_rdd" in inspect.getsource(
        caching.released_local_checkpoint
    )
    assert "internals.severed_from_checkpoint" in inspect.getsource(
        caching.stats_severed_local_checkpoint
    )
    assert "internals.optimized_plan" in inspect.getsource(kmeans._stats_bytes)
    assert "internals.plan_size_bytes" in inspect.getsource(
        multimodal.repartition_for_media
    )
    src = open("tools/plan_audit.py").read()
    assert "_jdf" not in src, "plan_audit bypasses the internals facade"


def test_severed_checkpoint_raises_when_sever_fails(spark, monkeypatch):
    """When the constructor crossing is gone, stats_severed_local_checkpoint
    raises instead of returning a plain checkpoint whose preserved stats
    would compound in an iterative trainer."""
    from assignment_etl_spark.caching import stats_severed_local_checkpoint

    def gone(ck):
        raise AttributeError("internalCreateDataFrame")

    monkeypatch.setattr(internals, "severed_from_checkpoint", gone)
    before = set(internals.persistent_rdd_ids(spark))
    df = spark.range(5).withColumn("v", F.col("id") + 1)
    try:
        with pytest.raises(AttributeError, match="internalCreateDataFrame"):
            stats_severed_local_checkpoint(df)
    finally:
        for rid, jrdd in internals.persistent_rdd_ids(spark).items():
            if rid not in before:
                jrdd.unpersist(False)


def test_stats_bytes_ignores_logicalrdd_leaf(spark):
    """ADVICE r11: a plain localCheckpoint of a join is a LogicalRDD
    leaf preserving the source's product-inflatable estimate — the
    unroll gate must treat it as unknown, so a dataflow whose only
    leaves are checkpoints answers stats_bytes 0 / stats_unroll False."""
    from assignment_etl_spark.ext.kmeans import _stats_bytes, stats_unroll

    a = spark.range(200).withColumn("k", F.col("id") % 10)
    b = spark.range(200).withColumn("k", F.col("id") % 10)
    ck = a.join(b, on="k").localCheckpoint(eager=True)
    try:
        derived = ck.select("k").distinct()
        assert _stats_bytes(derived) == 0
        assert stats_unroll(derived) is False
        # honest leaves still gate normally
        assert _stats_bytes(spark.range(10).toDF("id")) > 0
    finally:
        internals.checkpoint_rdd(ck).unpersist(False)
