"""Graph analytics over edge-list DataFrames: fixed-iteration PageRank.

The graph is a plain (src, dst) DataFrame — no graph library, no RDDs.
Each PageRank iteration is the classic pair of relational ops: join
ranks to edges (shuffle on src, co-partitioned with the out-degree
table) and aggregate contributions by dst (shuffle on dst). Work per
iteration is O(|E|), exactly the Pregel dataflow expressed in joins —
this scales to any edge count Spark can shuffle; for deep iteration
counts pass ``checkpoint_every`` to truncate the growing lineage (the
standard iterative-algorithm hygiene on a real cluster).

Determinism contract (the repo's decimal-sum policy, same as ext/lm.py):
each per-edge contribution is computed in double — one expression, no
accumulation, bit-identical in any IEEE-754 engine — then rounded to
``scale`` decimals and cast to decimal before the per-node sum, so the
sum is exact and independent of partitioning/order. Ranks therefore
hash-match an independent SQL engine replaying the same unrolled
iterations. Variant note: dangling-node mass is NOT redistributed (it
leaks, as in the original sum formulation); ranks then sum to < 1 when
sinks exist, which is fine for ranking and keeps both engines trivially
aligned.

Reference parity note: the reference repo has no graph surface; built
for the training-data curation layer (e.g. domain-graph authority
scoring for web-corpus filtering, the CommonCrawl curation pattern).
Connected components for dedup clustering live in ext/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85


def degrees(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) over a (src, dst) edge list."""
    out = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    inn = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out.join(inn, on="node", how="full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def min_label_rounds(
    edges: DataFrame,
    *,
    rounds: int,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(node, label) after ``rounds`` SYNCHRONOUS min-label propagation
    steps over the undirected closure of (src, dst): every node starts
    labeled with itself, and each round takes the min of its own and
    all neighbors' previous labels. After ≥ diameter rounds this is
    connected components (ext/dedup.cluster_pairs iterates that to
    convergence for dedup); the FIXED-round form here has a
    well-defined, engine-replayable result at any round count — the
    oracle-certifiable shape, same trade as pagerank's fixed
    iterations.

    Dataflow (r12 optimization — guide §2.4/§5): the closure gets a
    SELF-LOOP per node, which folds "min of own and neighbors' labels"
    into a single ``min`` over in-edges — so each round is ONE join +
    ONE aggregate and the labels frame is consumed exactly once per
    round. That makes the whole propagation a LINEAR lazy lineage:
    no per-round eager localCheckpoint (the old form used labels twice
    per round — once in the neighbor join, once in the merge join — so
    without a barrier every consumer re-evaluated the full upstream,
    including the LSH candidate join that feeds dedup: measured 58
    jobs / 145 stages for dedup_keep_best_quality at sf0.1, down to
    ~2 jobs after this change). The closure itself is reused every
    round, so it is hash-partitioned by ``src`` once and persisted
    (CacheManager-managed — strictly better hygiene than the old
    per-round checkpoint RDDs, which clearCache() could not free).
    ``checkpoint_every`` remains for DEEP round counts, now via
    stats-severed checkpoints (caching) so chained join stats cannot
    compound; with the default (None) and the engine's fixed
    rounds=4 callers, no barrier is needed — plan depth is bounded by
    construction."""
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    from assignment_etl_spark.caching import scoped_persist

    und2 = scoped_persist(
        und.unionByName(
            nodes.select(
                F.col("node").alias("src"), F.col("node").alias("dst")
            )
        ).repartition("src")
    )
    labels = nodes.withColumn("label", F.col("node"))
    for i in range(rounds):
        labels = (
            und2.join(labels.withColumnRenamed("node", "src"), on="src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            from assignment_etl_spark.caching import (
                stats_severed_local_checkpoint,
            )

            labels = stats_severed_local_checkpoint(labels)
    return labels


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping: float = DAMPING,
    scale: int = 12,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(node, rank) after ``iters`` synchronous iterations from the
    uniform start: rank'(v) = (1-d)/N + d·Σ_{u→v} rank(u)/out_deg(u).

    All rank arithmetic follows the decimal-sum determinism policy (see
    module docstring). N is carried as a 1-row broadcast, never a driver
    scalar."""
    dec = f"decimal(28,{scale})"
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = F.round(F.lit(1.0 - damping) / F.col("n"), scale).cast(dec)
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node",
        F.round(F.lit(1.0) / F.col("n"), scale).cast(dec).alias("rank"),
    )
    for i in range(iters):
        contribs = (
            edges.join(ranks.withColumnRenamed("node", "src"), on="src")
            .join(out_deg, on="src")
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.col("rank").cast("double") * F.lit(damping) / F.col("out_deg"),
                    scale,
                )
                .cast(dec)
                .alias("contrib"),
            )
        )
        ranks = (
            nodes.join(contribs, on="node", how="left")
            .groupBy("node")
            .agg(F.sum("contrib").alias("_s"))
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                # sum(decimal(28,12)) widens to (38,12); cast back down
                # BEFORE the add — (38,12)+(28,12) would exceed precision
                # 38 and make Spark silently shave the scale to 11
                (F.coalesce(F.col("_s").cast(dec), F.lit(0).cast(dec)) + base)
                .cast(dec)
                .alias("rank"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def hits(
    edges: DataFrame,
    *,
    iters: int = 2,
    scale: int = 12,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(node, hub, auth) after ``iters`` synchronous HITS iterations
    from the uniform start (hub = 1 for every node): each iteration
    computes auth'(v) = Σ_{u→v} hub(u), L1-normalizes, then
    hub'(u) = Σ_{u→v} auth'(v), L1-normalizes. L1 (sum) normalization
    replaces the textbook L2 so every step stays within the decimal-sum
    determinism policy (an L2 norm would need a cross-engine-identical
    sqrt of an accumulated sum; the ranking is identical under any
    positive rescaling). Per iteration: two edge joins + two node-key
    aggregates, O(|E|) each — the same Pregel-in-joins dataflow as
    :func:`pagerank`; norms ride 1-row broadcasts, never driver
    scalars. Nodes with no in-edges report auth 0, no out-edges hub 0.
    Fixed ``iters`` is the oracle-certifiable contract (the PageRank
    trade)."""
    dec = f"decimal(28,{scale})"

    def _l1_normalize(scores: DataFrame, col: str) -> DataFrame:
        # r12 (guide §5): the input feeds BOTH the norm aggregate and
        # the rescale projection — without a barrier every half-step
        # re-evaluated its full upstream twice, compounding to ~2^(2·iters)
        # subtree evaluations (measured: 47 jobs / 96 stages for one
        # hits_event_graph action at sf0.1; ~10 stages persisted).
        # CacheManager-managed; registered with the scoped-persist
        # owner so release_scoped_caches() frees every half-step after
        # the consuming action (r13: the old comment promised a
        # "clearCache discipline" nothing implemented).
        from assignment_etl_spark.caching import scoped_persist

        scores = scoped_persist(scores)
        norm = scores.agg(F.sum(col).alias("_norm"))
        return scores.crossJoin(F.broadcast(norm)).select(
            "node",
            F.when(
                F.col("_norm") > 0,
                F.round(
                    F.col(col).cast("double") / F.col("_norm").cast("double"),
                    scale,
                ),
            )
            .otherwise(F.lit(0.0))
            .cast(dec)
            .alias(col),
        )

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(1).cast(dec).alias("hub"))
    auth = nodes.select("node", F.lit(0).cast(dec).alias("auth"))
    for i in range(iters):
        auth = _l1_normalize(
            nodes.join(
                edges.join(hub.withColumnRenamed("node", "src"), on="src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").cast(dec).alias("auth")),
                on="node",
                how="left",
            ).select("node", F.coalesce("auth", F.lit(0).cast(dec)).alias("auth")),
            "auth",
        )
        hub = _l1_normalize(
            nodes.join(
                edges.join(auth.withColumnRenamed("node", "dst"), on="dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth").cast(dec).alias("hub")),
                on="node",
                how="left",
            ).select("node", F.coalesce("hub", F.lit(0).cast(dec)).alias("hub")),
            "hub",
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            hub = hub.localCheckpoint(eager=False)
            auth = auth.localCheckpoint(eager=False)
    return nodes.join(hub, on="node").join(auth, on="node")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over the undirected simple graph induced by
    (src, dst): one row (n_triangles, n_edges, n_wedges).

    The compact-forward algorithm in relational form: canonicalize each
    edge to (lo, hi) with lo < hi (dropping self-loops and duplicate/
    reverse copies), then count paths lo→mid→hi whose closing edge
    (lo, hi) exists — every triangle {a<b<c} is counted exactly once as
    the wedge a→b→c closed by (a, c). Two equi-join shuffles on node
    keys, no cross product; join candidate work is bounded by the
    ordered-wedge count. ``n_wedges`` is the TRUE path-of-length-2
    count Σ_v C(deg(v), 2) (the global clustering-coefficient
    denominator: 3·triangles/wedges), computed from the degree table —
    NOT the ordered-wedge join count, which misses wedges centered at
    their own min/max endpoint. Degree-ordering the canonical edges is
    the classic skew bound at web scale; at the repo's gate scale the
    raw ordering suffices and keeps the oracle replay one-to-one.
    """
    from assignment_etl_spark.caching import scoped_persist

    # five consumers (both wedge sides, the closing probe, the
    # degree union, the edge count) — persist so the raw-edge scan
    # + dedup shuffle run once, not once per consumer
    canon = scoped_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
    )
    e1 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ordered_wedges = e1.join(e2, "b").select("a", "b", "c")
    closing = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = ordered_wedges.join(closing, ["a", "c"])
    deg = (
        canon.select(F.col("lo").alias("node"))
        .unionByName(canon.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(canon.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(wedges))
    )


def khop_reachable(
    edges: DataFrame, seeds: DataFrame, *, k: int
) -> DataFrame:
    """(node, min_hops) for every node reachable from ``seeds`` (a
    one-column DataFrame) in at most ``k`` directed hops — bounded
    frontier BFS as k rounds of join → distinct → anti-join. Each
    round's frontier holds only the NEWLY reached nodes, so repeated
    work is bounded by |V| total across rounds; per-round cost is one
    edge join (O(frontier-adjacent edges)) plus two node-key shuffles.
    The reached set is localCheckpointed per round — constant plan
    depth, same hygiene as min_label_rounds. Fixed k is the
    oracle-certifiable contract (the PageRank trade)."""
    reached = (
        seeds.toDF("node").distinct().withColumn("min_hops", F.lit(0))
    ).localCheckpoint(eager=True)
    frontier = reached.select("node")
    for h in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nxt.join(reached.select("node"), "node", "left_anti").withColumn(
            "min_hops", F.lit(h)
        )
        reached = reached.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select("node")
    return reached
