"""Per-query profiler for the optimization rounds (guide §1: measure first).

For each named headline query (default: the slowest from BENCH_FULL.json),
runs the SAME callable bench.py times and reports, per run:
  - build_s : wall-clock of the builder call (driver planning + any eager
              jobs: persists, localCheckpoints, .rdd partition probes)
  - count_s : wall-clock of the timed action (.count(), bench methodology)
  - jobs    : Spark job count for the run (statusTracker over a job group)
  - stages  : total stage count across those jobs

Usage: python tools/profile_query.py [query ...] [--top N] [--runs K]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
import bench as bench_mod  # noqa: E402
from assignment_etl_spark.caching import release_scoped_caches  # noqa: E402
from assignment_etl_spark.session import get_spark  # noqa: E402


def profile(spark, name, fn, sf_dir, runs=3):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = []
    for r in range(runs):
        group = f"prof-{name}-{r}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        n = df.count()
        t2 = time.perf_counter()
        sc.setJobGroup(None, None)
        # match bench.py's honest min-of-3 (r13): reps are cache-cold
        release_scoped_caches()
        spark.catalog.clearCache()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is not None:
                stages += len(ji.stageIds)
        out.append(
            {
                "run": r,
                "build_s": round(t1 - t0, 3),
                "count_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "jobs": len(job_ids),
                "stages": stages,
                "rows": n,
            }
        )
    return out


def main():
    argv = [a for a in sys.argv[1:]]
    runs = 3
    top = 0
    names = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--runs":
            runs = int(argv[i + 1])
            i += 2
        elif a == "--top":
            top = int(argv[i + 1])
            i += 2
        else:
            names.append(a)
            i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    if top:
        with open(os.path.join(REPO, "BENCH_FULL.json")) as f:
            full = json.load(f)
        ranked = sorted(full["queries"].items(), key=lambda kv: -kv[1])
        names = [n for n, _ in ranked[:top]]
    bench_mod.warm_up(spark, queries, sf_dir)
    results = {}
    for name in names:
        res = profile(spark, name, queries[name], sf_dir, runs=runs)
        results[name] = res
        best = min(res, key=lambda r: r["total_s"])
        print(
            f"{name:36s} total={best['total_s']:7.3f} build={best['build_s']:7.3f} "
            f"count={best['count_s']:7.3f} jobs={best['jobs']:3d} "
            f"stages={best['stages']:3d} rows={best['rows']}",
            flush=True,
        )
    with open("/tmp/profile_results.json", "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
