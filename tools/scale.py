"""Scaling curves and per-query profiles: queries × scale-factor directories.

For each query and directory the query runs ``--repeats`` times and the
fastest repeat is kept: rows, ``build_s`` (the callable: planning plus
eager jobs such as persists and checkpoints), ``count_s`` (the timed
``count()``), the jobs and stages of the repeat's job group, their spill
and the largest single task's peak execution memory, from Spark's REST
API. Consecutive directories get the ratio of their fastest totals; the
last ratio gets a verdict for a 10× data step: ≤ 12× linear-ok, ≤ 20×
watch, above that SUPER-LINEAR.

Every repeat starts cache-cold (:func:`cold_start`), so a repeat cannot
read an earlier repeat's persisted intermediates and min-of-N is not a
warm run. Queries are the ``__spark_entry__.queries()`` gates (the
callables the bench times) and the named :data:`VARIANTS`; the default
set is the 15 slowest rows of ``BENCH_FULL.json``. ``--heap SIZE`` runs
each query in a child process with a SIZE driver heap
(``SPARK_GRAFT_DRIVER_MEM``) and reports ok, OOM or timeout: whether its
operators spill under memory pressure instead of failing.

Usage:
  python tools/make_scale_data.py 10 /tmp/sf1_synth   # amplified sf1
  python tools/scale.py DIR [DIR ...] [-q QUERY ...] [--repeats N] [--heap SIZE]

Output: one JSON line per (query, directory), then a markdown table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import subprocess
import sys
import tempfile
import time
import urllib.parse
import urllib.request
import uuid
import weakref

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from assignment_etl_spark import internals  # noqa: E402
from assignment_etl_spark.caching import release_scoped_caches  # noqa: E402
from assignment_etl_spark.session import get_spark  # noqa: E402

# A point whose fastest repeat takes longer ends its query's curve
# ("timeboxed": the next directory is 10× the data). Under --heap a child
# that runs 15 budgets (30 min) is killed: a heap-starved JVM can thrash in
# GC for hours instead of failing.
BUDGET_S = 120.0

_OOM = re.compile(r"OutOfMemoryError|SparkOutOfMemory|Java heap space")


# -- named variants ----------------------------------------------------------
# A gate pins small, oracle-replayable parameters; each variant runs the
# same operator in its production configuration under its own name.


def _keep_best_production(spark, sf_dir):
    """``minhash_dedup_keep_best`` with its production default
    ``collapse_exact=True`` (the gate pins False so the oracle replays the
    uncollapsed clique graph)."""
    from assignment_etl_spark.ext.dedup import minhash_dedup_keep_best
    from assignment_etl_spark.ext.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = minhash_dedup_keep_best(
        docs, quality_score(F.col("text")), jaccard_threshold=0.4, rounds=4
    )
    return out.groupBy("keep").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.countDistinct("cluster").alias("n_clusters"),
    )


def _scaled_media(gate):
    """The media gates decode a fixed 24 payloads for the oracle; the
    variant decodes one per 25 documents, so the curve measures the codec
    dataflow rather than a fixed 24-row floor."""

    def fn(spark, sf_dir):
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        return gate(spark, sf_dir, n_media=max(24, n_docs // 25))

    return fn


def _geo_constant_density(spark, sf_dir):
    """``self_radius_pairs`` at constant point density. The gate maps every
    key into one fixed area, so its pair count grows quadratically with
    the corpus and any plan is Θ(its output). Here the radius and cell
    shrink by 1/√factor (expected neighbours per point stay constant) and
    the longitude modulus is 1009, coprime to the latitude's 1000, so
    points do not collapse onto 1,000 shared sites."""
    from assignment_etl_spark.ext.geo import self_radius_pairs

    entry._prep(spark)
    customer = entry._t(spark, sf_dir, "customer")
    factor = max(1.0, customer.count() / 15_000)
    pts = customer.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 7) % 1000) / 100.0).alias("lat"),
        (((F.col("c_custkey") * 13) % 1009) / 100.9).alias("lon"),
    )
    pairs = self_radius_pairs(
        pts,
        radius_km=25.0 / math.sqrt(factor),
        cell_deg=max(0.25 / math.sqrt(factor), 0.01),
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.countDistinct("id_a").alias("n_left")
    )


def _knn_build_search(spark, sf_dir):
    """k-NN graph BUILD as ``build_s`` and SEARCH as ``count_s``. The build
    is the eager ``materialize_knn_graph`` in production configuration
    (seed bits scaled with the corpus, k=5, one refine round); the search
    is a beam search for a fixed batch of 64 queries over the written
    graph (beam=3, hops=2). A flat ``count_s`` while the graph grows is the
    search's graph-size independence."""
    from assignment_etl_spark.ext.nndescent import (
        knn_graph_beam_search,
        materialize_knn_graph,
        seed_bits_for,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    tmp = tempfile.TemporaryDirectory(prefix="scale_knn_")
    graph = materialize_knn_graph(emb, f"{tmp.name}/graph", k=5, rounds=1, init_bits=None)
    out = knn_graph_beam_search(
        emb.orderBy("vec_id").limit(64), emb, graph, 5,
        beam=3, hops=2, init_bits=seed_bits_for(emb.count()),
    )
    weakref.finalize(out, tmp.cleanup)  # the graph files live as long as the search
    return out


VARIANTS = {
    "dedup_keep_best_quality@production": _keep_best_production,
    "image_decode_stats@scaled_media": _scaled_media(entry.q_image_decode_stats),
    "audio_downsample_stats@scaled_media": _scaled_media(entry.q_audio_downsample_stats),
    "geo_radius_pairs@constant_density": _geo_constant_density,
    "knn_graph@build_search": _knn_build_search,
}


# -- measurement -------------------------------------------------------------


def cold_start(spark) -> int:
    """Release the query-scoped persists, clear the cache manager and check
    it empty, then release leftover persistent RDDs: local checkpoints
    outside the cache manager, whose frames the previous run returned (after
    its ``count()`` the sweep owns them). Returns how many it released."""
    release_scoped_caches()
    spark.catalog.clearCache()
    if not internals.cache_manager_is_empty(spark):
        raise RuntimeError("the cache manager is not empty after clearCache()")
    leftover = internals.persistent_rdd_ids(spark)
    for jrdd in leftover.values():
        jrdd.unpersist(False)
    alive = internals.persistent_rdd_ids(spark)
    if alive:
        raise RuntimeError(f"persistent RDDs {sorted(alive)} survived unpersist")
    return len(leftover)


def _rest(sc, path: str):
    """GET ``path`` under the application's REST API (the session UI's port)."""
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _stage_memory(spark, stage_ids) -> dict:
    """Spill summed over ``stage_ids`` and the largest single task's peak
    execution memory among them (the top quantile of each stage attempt's
    task summary; a stage's own ``peakExecutionMemory`` is a sum over its
    tasks), from the REST API; ``None`` when the session has no UI."""
    sc = spark.sparkContext
    if not sc.uiWebUrl or not stage_ids:
        return dict.fromkeys(("mem_spill_mb", "disk_spill_mb", "peak_exec_mb"))
    stages = [s for s in _rest(sc, "stages") if s["stageId"] in stage_ids]
    peaks = [
        _rest(sc, f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0")
        ["peakExecutionMemory"][0]
        for s in stages if s.get("numCompleteTasks")
    ]
    mib = 2.0**20
    return {
        "mem_spill_mb": round(sum(s.get("memoryBytesSpilled", 0) for s in stages) / mib, 1),
        "disk_spill_mb": round(sum(s.get("diskBytesSpilled", 0) for s in stages) / mib, 1),
        "peak_exec_mb": round(max(peaks, default=0) / mib, 1),
    }


def run_once(spark, name, fn, sf_dir) -> dict:
    """One cache-cold run of ``fn(spark, sf_dir).count()`` in its own job
    group."""
    released = cold_start(spark)
    if released:
        print(f"# released {released} checkpoint RDD(s) before {name}", file=sys.stderr)
    sc = spark.sparkContext
    group = f"scale-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.count()
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    for _ in range(100):  # the status store lags the scheduler a little
        infos = [tracker.getJobInfo(j) for j in job_ids]
        if all(i is None or i.status != "RUNNING" for i in infos):
            break
        time.sleep(0.05)
    stage_ids = {s for i in infos if i is not None for s in i.stageIds}
    return {
        "rows": rows,
        "build_s": round(t1 - t0, 3),
        "count_s": round(t2 - t1, 3),
        "total_s": round(t2 - t0, 3),
        "jobs": len(job_ids),
        "stages": len(stage_ids),
        **_stage_memory(spark, stage_ids),
    }


def sweep(spark, queries: dict, names, dirs, repeats: int):
    """Yield one record per (query, directory): the fastest of ``repeats``
    cache-cold runs, or the status that ended the curve."""
    for name in names:
        stop = None
        for d in dirs:
            rec = {"query": name, "dir": d}
            if stop:
                yield {**rec, "status": stop}
                continue
            try:
                runs = [run_once(spark, name, queries[name], d) for _ in range(repeats)]
            except Exception as exc:  # noqa: BLE001 — report it and go on to the next query
                stop = "OOM" if _OOM.search(str(exc)) else f"error: {type(exc).__name__}"
                print(f"# {name} @ {d}: {str(exc)[:2000]}", file=sys.stderr)
                yield {**rec, "status": stop}
                continue
            best = min(runs, key=lambda r: r["total_s"])
            yield {**rec, "status": "ok", **best, "runs_s": [r["total_s"] for r in runs]}
            if best["total_s"] > BUDGET_S:
                stop = f"timeboxed (> {BUDGET_S:.0f} s)"
    cold_start(spark)


def run_child(dirs, name, repeats: int, heap: str):
    """Run one query over ``dirs`` in a child process with a ``heap``
    driver heap; returns its records, every one marked OOM or timeout
    when the child ended that way."""
    cmd = [sys.executable, os.path.abspath(__file__), *dirs, "-q", name,
           "--repeats", str(repeats)]
    try:
        p = subprocess.run(
            cmd, capture_output=True, text=True,
            env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM=heap),
            timeout=15 * BUDGET_S,
        )
    except subprocess.TimeoutExpired:
        return [{"query": name, "dir": d, "status": "timeout"} for d in dirs]
    if p.returncode:
        print(p.stderr[-2000:], file=sys.stderr)
    recs = {r["dir"]: r for r in map(json.loads, re.findall(r"^\{.*\}$", p.stdout, re.M))}
    oom = _OOM.search(p.stdout + p.stderr)
    out = [recs.get(d) or {"query": name, "dir": d, "status": f"error (exit {p.returncode})"}
           for d in dirs]
    return [{**r, "status": "OOM"} if oom and r["status"] != "ok" else r for r in out]


def _verdict(ratio: float) -> str:
    return "linear-ok" if ratio <= 12 else ("watch" if ratio <= 20 else "SUPER-LINEAR")


def table(records, dirs) -> list[str]:
    """The markdown table: one row per query, per-point values joined by →."""
    tags = [os.path.basename(os.path.normpath(d)) for d in dirs]
    head = [f"{t} s" for t in tags] + [f"{b}/{a}" for a, b in zip(tags, tags[1:])]
    head += ["rows", "jobs", "disk spill MB", "peak exec MB", "verdict"]
    lines = ["| query | " + " | ".join(head) + " |", "|---" * (len(head) + 1) + "|"]
    for name in dict.fromkeys(r["query"] for r in records):
        recs = [r for r in records if r["query"] == name]
        ok = [r for r in recs if r["status"] == "ok"]
        steps = [b["total_s"] / a["total_s"] if a["status"] == b["status"] == "ok" else None
                 for a, b in zip(recs, recs[1:])]
        failed = [r["status"] for r in recs if r["status"] != "ok"]
        cells = (
            [f"{r['total_s']:.2f}" if r["status"] == "ok" else r["status"] for r in recs]
            + [f"{s:.1f}×" if s is not None else "—" for s in steps]
            + ["→".join(str(r[k]) for r in ok) for k in ("rows", "jobs", "disk_spill_mb", "peak_exec_mb")]
            + [failed[0] if failed else _verdict(steps[-1]) if steps else "ok"]
        )
        lines.append(f"| `{name}` | " + " | ".join(cells) + " |")
    return lines


def ui_session():
    """The tool's session: the UI is on, so its REST API serves the stage
    memory."""
    spark = get_spark("scale", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": REPO,  # Python UDF workers import the package
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="+", help="scale-factor directories, smallest first")
    ap.add_argument("-q", "--queries", nargs="+", help="gates or variants "
                    "(default: the 15 slowest rows of BENCH_FULL.json)")
    ap.add_argument("--repeats", type=int, default=2, help="runs per point, fastest kept")
    ap.add_argument("--heap", help="driver heap of one child process per query, e.g. 2g")
    args = ap.parse_args(argv)
    for d in args.dirs:
        if not os.path.isdir(d):
            ap.error(f"not a directory: {d}")
    if args.repeats < 1:
        ap.error("--repeats must be at least 1")
    if args.heap is not None and not re.fullmatch(r"\d+[kmgt]?", args.heap, re.I):
        ap.error(f"--heap takes a JVM memory size such as 2g, not {args.heap!r}")

    queries = {**entry.queries(), **VARIANTS}
    with open(os.path.join(REPO, "BENCH_FULL.json")) as f:
        timings = json.load(f)["queries"]
    names = args.queries or sorted(timings, key=lambda q: -timings[q])[:15]
    unknown = [n for n in names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    if args.heap:
        points = (r for n in names for r in run_child(args.dirs, n, args.repeats, args.heap))
    else:
        points = sweep(ui_session(), queries, names, args.dirs, args.repeats)
    records = []
    for rec in points:
        print(json.dumps(rec), flush=True)
        records.append(rec)
    print("\n".join(["", *table(records, args.dirs)]))
    return 0 if all(r["status"] == "ok" for r in records) else 1


if __name__ == "__main__":
    raise SystemExit(main())
