"""knn-graph BUILD vs SEARCH three-point curves (VERDICT r8 ask #1).

Round 8 timeboxed `knn_graph_beam_search` at sf10 because the gate
composed build + search in one dataflow and the gate-pinned 4-bit seed
quantizer makes the seed join Σ|cell|² — quadratic once cell population
grows linearly with the corpus. Round 9 splits the measurement:

- BUILD: materialize_knn_graph in PRODUCTION configuration
  (init_bits=None → seed_bits_for scales cells with the corpus so
  expected cell population stays ~1k and the seed join stays linear),
  k=5, one NN-descent refine round, written to a temp parquet dir —
  the build-once cost a real pipeline pays per corpus refresh.
- SEARCH: beam search for a FIXED 64-query batch over the persisted
  graph (beam=3, hops=2, seed bits scaled like the build). A flat
  search row while the graph grows 100× is the graph-size-independence
  claim, measured instead of argued.

Usage: python tools/knn_split_curves.py [sf1_dir] [sf10_dir]
Prints a markdown table to paste into SCALE.md.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

N_QUERIES = 64
REPEATS = 2


def main() -> int:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_synth"
    sf10_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10_synth"
    dirs = [("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1_dir), ("sf10", sf10_dir)]

    from assignment_etl_spark.ext.nndescent import (
        knn_graph_beam_search,
        materialize_knn_graph,
        seed_bits_for,
    )
    from assignment_etl_spark.session import get_spark

    spark = get_spark("knn-split-curves")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for tag, d in dirs:
        spark.catalog.clearCache()
        emb = spark.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        n = emb.count()
        bits = seed_bits_for(n)
        tmp = tempfile.mkdtemp(prefix=f"knn_curve_{tag}_")
        t_build = None
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            graph = materialize_knn_graph(
                emb, f"{tmp}/graph", k=5, rounds=1, init_bits=None
            )
            dt = time.perf_counter() - t0
            t_build = dt if t_build is None else min(t_build, dt)
        n_edges = graph.count()
        queries = emb.orderBy("vec_id").limit(N_QUERIES)
        t_search = None
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            n_ans = knn_graph_beam_search(
                queries, emb, graph, 5, beam=3, hops=2, init_bits=bits
            ).count()
            dt = time.perf_counter() - t0
            t_search = dt if t_search is None else min(t_search, dt)
        rows.append((tag, n, bits, t_build, n_edges, t_search, n_ans))
        print(
            f"# {tag}: n={n} bits={bits} build={t_build:.2f}s "
            f"edges={n_edges} search({N_QUERIES}q)={t_search:.2f}s",
            file=sys.stderr, flush=True,
        )

    print("| point | vectors | seed bits | build s | edges | "
          f"search s ({N_QUERIES}q, beam=3, hops=2) |")
    print("|---|---|---|---|---|---|")
    for tag, n, bits, tb, ne, ts, _na in rows:
        print(f"| {tag} | {n:,} | {bits} | {tb:.2f} | {ne:,} | {ts:.2f} |")
    b = {r[0]: r for r in rows}
    if "sf1" in b and "sf10" in b:
        r2b = b["sf10"][3] / b["sf1"][3]
        r2s = b["sf10"][5] / b["sf1"][5]
        print(f"\nbuild r2 (sf10/sf1) = {r2b:.1f}× on 10× data; "
              f"search r2 = {r2s:.1f}× for the same fixed query batch")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
