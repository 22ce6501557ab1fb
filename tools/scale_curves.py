"""sf1 scaling curves for the slow bench tail (VERDICT r4 ask #4): run the
10 slowest headline queries at sf0.1 and at a 10×-amplified sf1 directory
(tools/make_scale_data.py) and report the time ratio against the 10×-data
budget. A query scaling super-linearly (ratio well above 10× for a
linear-work operator, above ~10·log10 for sort-bound ones) is a plan bug.

Usage:
  python tools/make_scale_data.py 10 /tmp/sf1_synth
  python tools/scale_curves.py [sf1_dir] [query ...]
Prints a markdown table to paste into SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SLOW_TAIL = [
    "dedup_keep_best_quality",
    "curation_pipeline_funnel",
    "decontaminate_documents",
    "semantic_dedup_embeddings",
    "geo_radius_pairs",
    "ivf_similarity_topk",
    "dedup_lines_corpus",
    "streaming_hourly_events",
    "cluster_centroids",
    "c4_line_filter",
]


def run(fn, spark, sf_dir, repeats=2):
    best, rows = None, 0
    for _ in range(repeats):
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return rows, best


def main() -> int:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_synth"
    names = sys.argv[2:] or SLOW_TAIL

    import __spark_entry__ as entry
    from assignment_etl_spark.session import get_spark

    spark = get_spark("scale-curves")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    print("| query | sf0.1 sec | sf1 sec | ratio | rows 0.1→1 | verdict |")
    print("|---|---|---|---|---|---|")
    for name in names:
        fn = qs[name]
        r01, t01 = run(fn, spark, "/root/testdata/sf0.1")
        r1, t1 = run(fn, spark, sf1_dir)
        ratio = t1 / t01 if t01 else float("inf")
        verdict = "linear-ok" if ratio <= 12 else ("watch" if ratio <= 20 else "SUPER-LINEAR")
        print(
            f"| `{name}` | {t01:.2f} | {t1:.2f} | {ratio:.1f}× "
            f"| {r01}→{r1} | {verdict} |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
