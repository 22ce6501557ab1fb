"""Memory-pressure sweep (VERDICT r11 ask #4): prove the heavy-shuffle
gates SPILL under memory pressure instead of OOMing.

The 128 GiB local[32] sandbox never exercises spill, but at 100 TB
memory-per-core is the scarcest resource — a query whose operators can
only complete in-memory is a scale-killer regardless of its plan shape.
This sweep runs the N heaviest-shuffle gates (PLANAUDIT `shuffles`
column) at sf1 inside per-query SUBPROCESSES with a deliberately tiny
heap (default 2g for data that expands well past that through 32
concurrent tasks' shuffle/sort/agg working sets), and records per query:
completed-vs-OOM, wall time, and the spill actually measured — summed
memoryBytesSpilled / diskBytesSpilled from Spark's PUBLIC REST status
API (/api/v1/applications/{id}/stages — no py4j private crossing).

Usage:
  python tools/memory_pressure_sweep.py [sf_dir] [--mem 2g] [--top N]
  python tools/memory_pressure_sweep.py --child <query> <sf_dir>  (internal)

Output: one markdown table on stdout (paste into SCALE.md) plus one JSON
line per query on stderr for machine reading. An OOM exits the CHILD
only; the sweep records it and moves on.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# PLANAUDIT top shuffle counts (r11 table) — the sweep's default set.
HEAVY_GATES = [
    "rfm_segments",  # 77 shuffles
    "rank_agreement_quality_length",  # 56
    "pagerank_event_graph",  # 47
    "knn_graph_beam_search",  # 43
    "kaplan_meier_users",  # 37
    "survival_users",  # 35
    "good_turing_documents",  # 31
    "backoff_sppl_top_docs",  # 26
    "negative_sample_parts",  # 23
    "dsir_top_docs",  # 23
]

UI_PORT = 4055


def _rest(path: str):
    import urllib.request

    with urllib.request.urlopen(
        f"http://localhost:{UI_PORT}{path}", timeout=10
    ) as r:
        return json.loads(r.read())


def child(query: str, sf_dir: str) -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from assignment_etl_spark.session import get_spark

    spark = get_spark(
        f"memsweep-{query}",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    n = entry.queries()[query](spark, sf_dir).count()
    wall = time.perf_counter() - t0

    mem_spill = disk_spill = peak = 0
    try:
        app_id = _rest("/api/v1/applications")[0]["id"]
        for st in _rest(f"/api/v1/applications/{app_id}/stages"):
            mem_spill += st.get("memoryBytesSpilled", 0)
            disk_spill += st.get("diskBytesSpilled", 0)
            peak = max(peak, st.get("peakExecutionMemory", 0))
    except Exception as e:  # noqa: BLE001 — metrics are best-effort
        print(f"# REST metrics unavailable: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "query": query,
                "status": "ok",
                "rows": n,
                "wall_sec": round(wall, 1),
                "memory_spill_mb": round(mem_spill / 2**20, 1),
                "disk_spill_mb": round(disk_spill / 2**20, 1),
                "peak_exec_mem_mb": round(peak / 2**20, 1),
            }
        )
    )
    return 0


def fmt_mb(v: float) -> str:
    return f"{v / 1024:.1f}g" if v >= 1024 else f"{v:.0f}m"


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        return child(sys.argv[2], sys.argv[3])

    args = sys.argv[1:]
    mem, top = "2g", len(HEAVY_GATES)
    if "--mem" in args:
        i = args.index("--mem")
        mem = args[i + 1]
        del args[i : i + 2]
    if "--top" in args:
        i = args.index("--top")
        top = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/tmp/sf1_synth"

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=mem)
    results = []
    for q in HEAVY_GATES[:top]:
        try:
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", q, sf_dir],
                capture_output=True,
                text=True,
                env=env,
                timeout=1800,
            )
        except subprocess.TimeoutExpired:
            rec = {"query": q, "status": "timeboxed(>1800s)"}
            results.append(rec)
            print(json.dumps(rec), file=sys.stderr)
            continue
        line = next(
            (ln for ln in p.stdout.splitlines() if ln.startswith("{")), None
        )
        if p.returncode == 0 and line:
            rec = json.loads(line)
        else:
            oom = bool(
                re.search(
                    r"OutOfMemoryError|SparkOutOfMemory|Java heap space",
                    p.stderr + p.stdout,
                )
            )
            rec = {
                "query": q,
                "status": "OOM" if oom else f"error(rc={p.returncode})",
                "tail": (p.stderr or p.stdout)[-300:],
            }
        results.append(rec)
        print(json.dumps(rec), file=sys.stderr)

    print(f"\n| query | status | wall | mem spill | disk spill | peak exec mem |")
    print("|---|---|---|---|---|---|")
    for r in results:
        if r["status"] == "ok":
            print(
                f"| `{r['query']}` | ok ({r['rows']} rows) | {r['wall_sec']}s "
                f"| {fmt_mb(r['memory_spill_mb'])} | {fmt_mb(r['disk_spill_mb'])} "
                f"| {fmt_mb(r['peak_exec_mem_mb'])} |"
            )
        else:
            print(f"| `{r['query']}` | **{r['status']}** | — | — | — | — |")
    n_ok = sum(1 for r in results if r["status"] == "ok")
    print(f"\n{n_ok}/{len(results)} completed under driver-memory={mem}")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
