"""Facade for every private py4j crossing the engine performs.

The engine's hot paths are pure public DataFrame API; a handful of
driver-side optimizations reach through ``df._jdf`` into Spark
internals that are ``private[sql]`` in Scala (package-private compiles
to public bytecode, so py4j can call them — but no compatibility
contract protects them across Spark versions):

- ``query_execution / analyzed_plan / optimized_plan /
  executed_plan_string`` — plan-tree access for the plan audit
  (tools/plan_audit.py) and the stats-gated codegen unroll
  (`ext/kmeans._stats_bytes`, `ext/multimodal.repartition_for_decode`).
- ``plan_size_bytes / plan_leaves`` — Catalyst statistics
  (``stats().sizeInBytes()``, ``collectLeaves()``), file-footer
  metadata only, never a job.
- ``checkpoint_rdd`` — the persisted RDD backing an eager
  ``localCheckpoint`` (its analyzed root is a LogicalRDD by
  construction), the exact unpersist target for
  `caching.released_local_checkpoint`.
- ``severed_from_checkpoint`` — rebuild a frame over a checkpoint's
  materialized RDD via ``SparkSession.internalCreateDataFrame``,
  dropping the origin plan's preserved (product-inflatable) statistics
  (`caching.stats_severed_local_checkpoint`; the round-11
  BigInteger-planning pathology).
- ``physical_plan_nodes / wrapped_plan / cached_plan`` — the one
  physical-plan walk: through AdaptiveSparkPlan (its final plan after an
  action, ``isFinalPlan``/``executedPlan``; its input plan before) and
  each query stage's ``plan``, and on request into each cache once (the
  plan fingerprints of tools/plan_audit.py and PLANAUDIT.json, the
  pipelines' plan-shape test, tests/test_pipeline_plans.py).
- ``cache_manager_is_empty / persistent_rdd_ids`` — session-level
  cache/persistence introspection for the scaling tool's cache-cold step
  before every repeat (tools/scale.py ``cold_start``).
- ``codegen_compiles`` — the process's Janino compile count and total
  compile time (``CodegenMetrics`` and ``CodeGenerator.compileTime``),
  the evidence that warm runs reuse their generated classes
  (tests/test_codegen_reuse.py, tools/pipeline_bench.py).

The two checkpoint crossings have no fallback: the `caching` helpers
raise when either fails. The plan-statistics callers (`ext/kmeans`,
`ext/multimodal`) fall back to a default plan shape (slower, never
wrong). Either way a Spark bump that removes one of these methods is
caught by name: ``probe()`` exercises EACH crossing against the live
session and reports per-crossing pass/fail, and
``tests/test_internals.py`` fails BY CROSSING NAME on any breakage, so
the first signal after an engine upgrade is one red test naming the
broken API.

All helpers here raise on failure (no swallowing); a call site that
degrades documents its degraded mode.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame

# Catalyst's "unknown size" sentinel region: LogicalRDD without origin
# stats reports spark.sql.defaultSizeInBytes = Long.MaxValue; anything
# >= 2^60 is treated as "no usable estimate" by the stats consumers
# here (ext/kmeans, ext/multimodal, tools/plan_audit sbits gate).
STATS_UNKNOWN_MIN = 1 << 60


def query_execution(df: DataFrame):
    """``df._jdf.queryExecution()`` — the root of every plan crossing."""
    return df._jdf.queryExecution()


def analyzed_plan(df: DataFrame):
    """Analyzed logical plan (pre-optimizer tree, names resolved)."""
    return query_execution(df).analyzed()


def optimized_plan(df: DataFrame):
    """Optimized logical plan — the tree Catalyst statistics hang off."""
    return query_execution(df).optimizedPlan()


def executed_plan_string(df: DataFrame) -> str:
    """The physical (executed) plan as text. After an action under AQE
    this is the settled AdaptiveSparkPlan with final stages."""
    return str(query_execution(df).executedPlan().toString())


def plan_size_bytes(jplan) -> int:
    """``plan.stats().sizeInBytes()`` as a Python int. Driver-side
    metadata only — never launches a job. May be astronomically large
    on stats-compounded trees (the sbits pathology) — callers compare
    against STATS_UNKNOWN_MIN / bit_length, never trust it raw."""
    return int(jplan.stats().sizeInBytes())


def plan_leaves(jplan) -> list:
    """``plan.collectLeaves()`` as a Python list of jvm plan nodes."""
    leaves = jplan.collectLeaves()
    return [leaves.apply(i) for i in range(leaves.length())]


def plan_node_class(jnode) -> str:
    """Simple class name of a jvm plan node (the walkers' dispatch key)."""
    return str(jnode.getClass().getSimpleName())


def plan_children(jnode) -> list:
    """Children of a jvm plan node as a Python list."""
    kids = jnode.children()
    return [kids.apply(i) for i in range(kids.length())]


def cached_plan(jscan):
    """The physical plan an ``InMemoryTableScanExec`` reads the cache of."""
    return jscan.relation().cacheBuilder().cachedPlan()


def wrapped_plan(jnode):
    """The plan a wrapper node stands for, or None for any other node. An
    AdaptiveSparkPlanExec stands for its final ``executedPlan()`` once
    ``isFinalPlan()`` (after an action; exchanges and query stages are only
    planned there) and for its ``inputPlan()`` before; a ``*QueryStageExec``
    stands for its ``plan()``."""
    cls = plan_node_class(jnode)
    if cls == "AdaptiveSparkPlanExec":
        return jnode.executedPlan() if jnode.isFinalPlan() else jnode.inputPlan()
    if cls.endswith("QueryStageExec"):
        return jnode.plan()
    return None


def physical_plan_nodes(jplan, seen_caches: set[int] | None = None) -> list:
    """Every node of a physical plan, looking through its wrappers
    (``wrapped_plan``). A ReusedExchange is a leaf. An InMemoryTableScan is
    a leaf unless ``seen_caches`` is given: then each cache's own plan is
    walked the first time any scan of it is met (its identity goes into
    the set), so the nodes of several plans that share caches are listed
    once."""
    from pyspark import SparkContext

    system = SparkContext._jvm.java.lang.System
    out, stack = [], [jplan]
    while stack:
        node = stack.pop()
        inner = wrapped_plan(node)
        if inner is not None:
            stack.append(inner)
            continue
        cls = plan_node_class(node)
        out.append(node)
        if cls != "InMemoryTableScanExec":
            stack.extend(plan_children(node))
        elif seen_caches is not None:
            key = int(system.identityHashCode(node.relation().cacheBuilder()))
            if key not in seen_caches:
                seen_caches.add(key)
                stack.append(cached_plan(node))
    return out


def checkpoint_rdd(ck: DataFrame):
    """The persisted JavaRDD backing an eager localCheckpoint — the
    analyzed plan root is a LogicalRDD by construction, so ``.rdd()``
    is the exact unpersist target (thread-safe, unlike a global
    getPersistentRDDs id diff)."""
    return analyzed_plan(ck).rdd()


def severed_from_checkpoint(ck: DataFrame) -> DataFrame:
    """Rebuild ``ck`` (an eager localCheckpoint) over its own
    materialized InternalRow RDD via the ``private[sql]``
    ``SparkSession.internalCreateDataFrame``. The rebuilt LogicalRDD
    has NO origin stats, so its sizeInBytes is the unknown sentinel —
    which resets the multiplicative digit growth that chained
    checkpoints of joins otherwise compound into minutes of driver
    BigInteger arithmetic (caching.stats_severed_local_checkpoint)."""
    jdf = ck._jdf
    njdf = ck.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(njdf, ck.sparkSession)


def cache_manager_is_empty(spark) -> bool:
    """``sharedState().cacheManager().isEmpty()`` — the scaling tool's
    cache-cold check before every repeat (a clearCache() that silently
    stopped clearing would let a repeat read an earlier one's caches)."""
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def persistent_rdd_ids(spark) -> dict[int, object]:
    """``sc._jsc.getPersistentRDDs()`` as ``{id: jrdd}`` — the scaling
    tool's forced checkpoint release before every repeat
    (tools/scale.py ``cold_start``) and ``probe()``'s check that its own
    checkpoint RDD is visible."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): jmap.get(k) for k in jmap.keySet().toArray()}


def codegen_compiles(spark) -> tuple[int, int]:
    """``(compiles, compile_ns)`` since the JVM started: how many classes
    Janino has compiled (``CodegenMetrics.METRIC_COMPILATION_TIME``, one
    histogram sample per compile) and their summed compile time
    (``CodeGenerator.compileTime()``, ns). A codegen cache hit adds to
    neither. Both only grow, so a caller takes the difference around a
    run."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), int(ns)


def probe(spark) -> dict[str, str | None]:
    """Exercise every crossing above against the live session.

    Returns ``{crossing_name: None | "ErrType: message"}`` — one entry
    per crossing, in a stable order. Cheap (a 3-row in-memory frame,
    one localCheckpoint materialization); safe to run in any session.
    The checkpoint RDD created by the probe is unpersisted before
    returning. Each probe also sanity-checks the SEMANTICS the engine
    relies on (e.g. severed stats actually read as unknown), not just
    that the method resolves — a Spark bump that keeps the name but
    changes the behavior should also fail by name here.
    """
    from pyspark.sql import functions as F

    results: dict[str, str | None] = {}

    def run(name, fn):
        try:
            fn()
            results[name] = None
        except Exception as exc:  # noqa: BLE001 — report, never raise
            results[name] = f"{type(exc).__name__}: {exc}"

    df = spark.range(3).withColumn("v", F.col("id") * 2)

    def p_query_execution():
        qe = query_execution(df)
        assert qe is not None

    def p_analyzed_plan():
        node = analyzed_plan(df)
        assert plan_node_class(node), "empty class name"
        # the plan audit's analyzed-plan rules need children() traversal too
        for kid in plan_children(node):
            assert plan_node_class(kid)

    def p_optimized_plan_stats():
        n = plan_size_bytes(optimized_plan(df))
        # a 3-row LocalRelation/Range has a real, small estimate
        assert 0 < n < STATS_UNKNOWN_MIN, f"implausible sizeInBytes {n}"

    def p_plan_leaves():
        leaves = plan_leaves(optimized_plan(df))
        assert leaves, "no leaves"
        assert plan_size_bytes(leaves[0]) > 0

    def p_executed_plan_string():
        s = executed_plan_string(df)
        assert "Plan" in s or "Scan" in s or "*" in s, s[:80]

    ck = df.localCheckpoint(eager=True)
    jrdd = {}

    def p_checkpoint_rdd():
        jrdd["rdd"] = checkpoint_rdd(ck)
        # a live py4j RDD handle with the unpersist we call on release
        assert jrdd["rdd"].id() >= 0

    def p_severed_from_checkpoint():
        severed = severed_from_checkpoint(ck)
        assert severed.count() == 3
        assert [f.name for f in severed.schema.fields] == ["id", "v"]
        # the property the engine RELIES on: origin stats dropped
        n = plan_size_bytes(optimized_plan(severed))
        assert n >= STATS_UNKNOWN_MIN, (
            f"severed checkpoint still carries origin stats ({n} bytes) — "
            "stats_severed_local_checkpoint would no longer reset "
            "checkpoint stats compounding"
        )

    def p_cache_manager():
        # Relative to the session's pre-probe state: a shared session may
        # legitimately hold other cached frames (test suites, long-lived
        # pipelines), in which case isEmpty() can only be asserted to
        # RETURN to its baseline, not to become globally true.
        was_empty = cache_manager_is_empty(spark)
        cached = spark.range(2).persist()
        try:
            cached.count()
            assert not cache_manager_is_empty(spark), (
                "cacheManager blind to a persisted frame"
            )
        finally:
            cached.unpersist(True)
        assert cache_manager_is_empty(spark) == was_empty, (
            "unpersist not observed"
        )

    def p_physical_plan_nodes():
        cached = df.select("*").persist()
        try:
            scans = [
                n
                for n in physical_plan_nodes(query_execution(cached).executedPlan())
                if plan_node_class(n) == "InMemoryTableScanExec"
            ]
            assert len(scans) == 1, "persisted frame not read from its cache"
            inner = physical_plan_nodes(cached_plan(scans[0]))
            assert "RangeExec" in {plan_node_class(n) for n in inner}
            walked = physical_plan_nodes(query_execution(cached).executedPlan(), set())
            assert "RangeExec" in {plan_node_class(n) for n in walked}
            # after an action: the final plan, through its query stages, a
            # broadcast of the cache read twice, its plan walked once
            joined = cached.join(F.broadcast(cached), "id")
            joined.collect()
            final = [
                plan_node_class(n)
                for n in physical_plan_nodes(query_execution(joined).executedPlan(), set())
            ]
            assert final.count("BroadcastExchangeExec") == 1, final
            assert final.count("InMemoryTableScanExec") == 2, final
            assert final.count("RangeExec") == 1, final
        finally:
            cached.unpersist(True)

    def p_persistent_rdd_ids():
        ids = persistent_rdd_ids(spark)
        # the probe's own eager localCheckpoint RDD must be visible
        assert int(jrdd["rdd"].id()) in ids if jrdd.get("rdd") else ids is not None

    def p_codegen_compiles():
        # a literal no earlier query used makes a class the cache lacks:
        # exactly what both counters must see
        n0, ns0 = codegen_compiles(spark)
        spark.range(3).select(F.col("id") * F.lit(random.randrange(1 << 30))).collect()
        n1, ns1 = codegen_compiles(spark)
        assert n1 > n0 and ns1 > ns0, f"compiles {n0} -> {n1}, ns {ns0} -> {ns1}"

    run("query_execution", p_query_execution)
    run("analyzed_plan", p_analyzed_plan)
    run("optimized_plan_stats", p_optimized_plan_stats)
    run("plan_leaves", p_plan_leaves)
    run("executed_plan_string", p_executed_plan_string)
    run("checkpoint_rdd", p_checkpoint_rdd)
    run("severed_from_checkpoint", p_severed_from_checkpoint)
    run("cache_manager_is_empty", p_cache_manager)
    run("persistent_rdd_ids", p_persistent_rdd_ids)
    run("physical_plan_nodes", p_physical_plan_nodes)
    run("codegen_compiles", p_codegen_compiles)

    if jrdd.get("rdd") is not None:
        try:
            jrdd["rdd"].unpersist(False)
        except Exception:  # noqa: BLE001 — probe cleanup is best-effort
            pass

    return results
