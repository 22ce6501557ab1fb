"""ANN recall evaluation: recall@k of every approximate search path
(IVF at nprobe < n_cells, LSH at varying table counts, sign-bit cell
probe) against exact brute-force cosine top-k ground truth on the
embeddings table.

Run: python tools/ann_eval.py [sf_dir] [k]
     python tools/ann_eval.py --clustered [n_vectors] [k]
Records the probe/recall trade you tune in production (SCALE.md ANN
section) — the correctness gates certify full-probe ≡ exact and the
reduced-probe join shape; THIS measures what reduced probing costs.

``--clustered`` sweeps nprobe on a HARD synthetic corpus instead of the
driver fixture: skew-sized Gaussian blobs (Zipf-ish cluster masses, tight
intra-cluster variance) are where IVF recall degrades at low probe counts
— queries near cell boundaries lose neighbors that landed one cell over.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from assignment_etl_spark.ext.similarity import (
    brute_force_topk,
    build_ivf_index,
    cell_probe_topk,
    ivf_topk,
    lsh_topk,
)
from assignment_etl_spark.session import get_spark

DIM = 64


def recall_at_k(exact, approx) -> float:
    """|approx ∩ exact| / |exact| over (query_id, neighbor_id) pairs."""
    hit = approx.join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    ).count()
    total = exact.count()
    return round(hit / total, 4) if total else 0.0


def make_clustered(spark, n: int, dim: int = DIM, n_clusters: int = 50, seed: int = 7):
    """Zipf-weighted Gaussian blobs: cluster c gets mass ∝ 1/(c+1), center
    components from a seeded uniform ball, points = center + tight noise.
    All generated JVM-side (rand(seed) + transform), deterministic."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)).astype("float64")
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    weights = 1.0 / (np.arange(n_clusters) + 1.0)
    cum = (weights / weights.sum()).cumsum()
    # assign each id a cluster by thresholding a seeded uniform draw
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.rand(seed).alias("_u"),
    )
    # cluster = first index where u <= cum[i]
    cl = None
    for i, c in enumerate(cum):
        cond = F.lit(float(c)) >= F.col("_u")
        cl = F.when(cond, i) if cl is None else cl.when(cond, i)
    base = base.withColumn("_cl", F.coalesce(cl, F.lit(n_clusters - 1)))
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(n_clusters)],
        "_cl int, _center array<double>",
    )
    noisy = base.join(F.broadcast(centers_df), "_cl").select(
        "vec_id",
        # pmod, not %: Spark hash() is signed and % keeps the dividend's
        # sign, which would bias the noise negative and triple its range
        F.transform(
            "_center",
            lambda x, i: x
            + F.pmod(F.hash(F.col("vec_id") * 1000003 + i), F.lit(1000))
            .cast("double")
            / F.lit(1000.0 / 0.15)
            - F.lit(0.075),
        ).alias("embedding"),
        F.col("_cl").alias("label"),
    )
    return noisy


def main() -> None:
    clustered = len(sys.argv) > 1 and sys.argv[1] == "--clustered"
    spark = get_spark("ann-eval")
    spark.sparkContext.setLogLevel("ERROR")
    if clustered:
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
        k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
        emb = make_clustered(spark, n).persist()
        sf_dir = f"clustered(n={n},clusters=50,zipf)"
    else:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
        k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .withColumn(
                "embedding", F.transform("embedding", lambda x: x.cast("double"))
            )
            .persist()
        )
    queries = emb.filter(F.col("vec_id") < 64).persist()
    exact = brute_force_topk(queries, emb, k).persist()
    n_cand = emb.count()
    results: dict[str, dict] = {"sf_dir": sf_dir, "k": k, "n_candidates": n_cand}

    n_cells = 64 if clustered else 16
    assigned, centroids = build_ivf_index(emb, n_cells=n_cells)
    ivf = {}
    for nprobe in (1, 2, 4, 6, 8, 16, 32, 64) if clustered else (1, 2, 4, 8, 16):
        if nprobe > n_cells:
            continue
        approx = ivf_topk(queries, assigned, centroids, k, nprobe=nprobe)
        ivf[f"nprobe={nprobe}/{n_cells}"] = {
            "recall": recall_at_k(exact, approx),
            "scanned_frac": round(nprobe / n_cells, 4),
        }
    results["ivf"] = ivf

    lsh = {}
    for n_tables in (2, 4, 8, 16):
        approx = lsh_topk(
            queries, emb, k, dim=DIM, n_planes=4, n_tables=n_tables
        ).persist()
        # candidate workload = pairs scored, measured pre-window via the
        # same join the operator runs (bucket sizes drive cost)
        lsh[f"tables={n_tables},planes=4"] = {"recall": recall_at_k(exact, approx)}
    results["lsh"] = lsh

    cell = {}
    for n_bits in (2, 3, 4):
        approx = cell_probe_topk(queries, emb, k, n_bits=n_bits)
        cell[f"bits={n_bits}"] = {
            "recall": recall_at_k(exact, approx),
            "scanned_frac": round(1 / (1 << n_bits), 4),
        }
    results["signbit_cell_probe"] = cell

    from assignment_etl_spark.ext.nndescent import (
        build_knn_graph,
        knn_graph_expand_search,
        refine_knn_graph,
    )

    # incremental: each refine round extends the previous graph instead
    # of rebuilding seed + earlier rounds from scratch
    graph = {}
    g = build_knn_graph(emb, k=k, rounds=0)
    g1 = None
    for rounds in (0, 1, 2):
        if rounds > 0:
            g = refine_knn_graph(g, emb, k)
            if rounds == 1:
                g1 = g
        approx = knn_graph_expand_search(queries, emb, g, k)
        graph[f"rounds={rounds}"] = {"recall": recall_at_k(exact, approx)}
    results["nndescent_graph_search"] = graph

    # beam-search sweep (round-6 ask #8): beam width × hop count over the
    # 1-refine-round graph; scanned_frac is MEASURED (rows the search
    # exactly scores / n_queries·n_candidates), not the
    # beam+hops·beam·k_graph upper bound
    from assignment_etl_spark.ext.nndescent import (
        beam_search_scored,
        knn_graph_beam_search,
    )
    from pyspark.sql.window import Window as _W

    n_queries = queries.count()
    beam_sweep = {}
    gb = (g1 if g1 is not None else g).persist()
    for hops in (1, 2):
        for beam in (k, 2 * k, 4 * k):
            scored = beam_search_scored(
                queries, emb, gb, beam=beam, hops=hops
            ).persist()
            topk = (
                scored.withColumn(
                    "rank",
                    F.row_number().over(
                        _W.partitionBy("query_id").orderBy(
                            F.desc("cos_sim"), F.col("cand")
                        )
                    ),
                )
                .filter(F.col("rank") <= k)
                .select("query_id", F.col("cand").alias("neighbor_id"))
            )
            beam_sweep[f"beam={beam},hops={hops}"] = {
                "recall": recall_at_k(exact, topk),
                "scanned_frac": round(
                    scored.count() / (n_queries * n_cand), 4
                ),
            }
            scored.unpersist()
    gb.unpersist()
    results["nndescent_beam_search"] = beam_sweep

    # JL projection: brute-force in the REDUCED space vs exact in the
    # original — what d_in/d_out of compute+shuffle savings costs in
    # recall (ext/projection.py; compose with IVF/cells for the full
    # scale path)
    from assignment_etl_spark.ext.projection import project_embeddings

    from pyspark.sql.window import Window as W

    from assignment_etl_spark.ext.similarity import cosine

    jl = {}
    ms = (5 * k, 20 * k)
    qv = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    for d_out in (8, 16, 32):
        proj = (
            project_embeddings(emb, d_in=DIM, d_out=d_out)
            .select("vec_id", F.col("projected").alias("embedding"))
            .persist()
        )
        pq = proj.filter(F.col("vec_id") < 64)
        # ONE widest projected-space pass; every smaller m (and the raw
        # top-k) is a rank-filter of it, not a fresh all-pairs scan
        wide = (
            brute_force_topk(pq, proj, max(ms))
            .withColumn(
                "_prk",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(
                        F.desc("cos_sim"), F.asc("neighbor_id")
                    )
                ),
            )
            .persist()
        )
        entry = {
            "recall": recall_at_k(exact, wide.filter(F.col("_prk") <= k)),
            "compute_frac": round(d_out / DIM, 4),
        }
        # the production pattern: JL-space top-M candidates, exact
        # re-rank to top-k — projection is candidate GENERATION (dense
        # clusters collapse under JL, so raw projected top-k is not a
        # retrieval index; a wider pool + exact re-score recovers it)
        for m in ms:
            cand = wide.filter(F.col("_prk") <= m).select(
                "query_id", "neighbor_id"
            )
            rescored = (
                cand.join(qv, "query_id")
                .join(cv, "neighbor_id")
                .select(
                    "query_id",
                    "neighbor_id",
                    cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
                )
            )
            topk = (
                rescored.withColumn(
                    "_rk",
                    F.row_number().over(
                        W.partitionBy("query_id").orderBy(
                            F.desc("cos_sim"), F.asc("neighbor_id")
                        )
                    ),
                )
                .filter(F.col("_rk") <= k)
            )
            entry[f"rerank_m={m}"] = {
                "recall": recall_at_k(exact, topk),
                "exact_frac": round(m / n_cand, 4),
            }
        jl[f"d_out={d_out}"] = entry
        wide.unpersist()
        proj.unpersist()
    results["jl_projection"] = jl

    print(json.dumps(results))


if __name__ == "__main__":
    main()
