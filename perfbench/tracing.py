"""The traced run: per-layer numbers from outside the program.

Every span is one call to a public function of one layer, run inside its
own Spark job group; its result is materialized in full (written to the
``noop`` sink, or collected; never counted, because ``count()`` prunes
columns and would skip the Arrow passes). Stage numbers per job group come
from Spark's public REST API, so the traced session has the UI on.

One traced run uses two sessions in one JVM. The first has the same conf as
an untraced run and times the operation of the workload named on the
command line: one ETL run with its write, or three in-process calls of
every dashboard route. The second has the UI on and runs both operations
again, traced, and the spans of every layer (ETL, dashboard, LLM-data
operators), so ``trace.overhead_ratio`` compares one operation with and
without tracing. The workload-wide ratios are reported for the named
workload; the per-layer metric list is the same for every workload.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import urllib.request

import corpus
import dashboard
import etl
import gen_sources
from common import OUT_DIR, Clock, cpus, median, release

ETL_SPANS = [
    "io.read_csv", "io.read_messy_csv", "io.read_diagnoses_xml",
    "ops.normalize_strings", "ops.parse_datetime_columns.clean",
    "ops.parse_datetime_columns.logs", "pipelines.patients",
    "pipelines.encounters", "pipelines.diagnoses", "io.write_parquet_store",
]
STAGE_SUFFIXES = ["wall_s", "executor_run_s", "gc_s", "shuffle_write_mb", "spill_mb"]
ROUTE_SUFFIXES = ["p50_ms", "input_mb", "jobs"]
WORKLOAD_WIDE = ["spark.idle_core_share", "caching.scoped_persists", "trace.overhead_ratio"]
CALLS = 3  # in-process calls per dashboard route
HTTP_PAIRS = 10  # (in-process, HTTP) call pairs behind analytics.http_overhead_ms
MB = float(1 << 20)


UNITS = {"wall_s": "s", "executor_run_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
         "spill_mb": "MB", "p50_ms": "ms", "input_mb": "MB", "jobs": "count",
         "http_overhead_ms": "ms", "idle_core_share": "ratio",
         "scoped_persists": "count", "overhead_ratio": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name, in report order, with its unit."""
    names = [f"{s}.{x}" for s in ETL_SPANS + corpus.STEPS for x in STAGE_SUFFIXES]
    names += [f"analytics.{r}.{x}" for r in dashboard.ROUTES for x in ROUTE_SUFFIXES]
    names += ["analytics.http_overhead_ms"] + WORKLOAD_WIDE
    return {n: UNITS[n.rsplit(".", 1)[1]] for n in names}


def trace_conf() -> dict[str, str]:
    return {
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Tracer:
    """Spans kept in memory; each child span runs in its own job group.
    Work outside every root runs in the job group ``untraced``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self.root: str | None = None
        self.sc.setJobGroup("untraced", "untraced")

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    def open_root(self, name: str) -> None:
        self.root = name
        self.sc.setJobGroup(name, name)
        self.spans.append({"name": name, "start": self._now(), "end": None,
                           "parent": None, "job_group": name})

    def close_root(self) -> float:
        span = next(s for s in self.spans if s["name"] == self.root)
        span["end"] = self._now()
        self.root = None
        self.sc.setJobGroup("untraced", "untraced")
        return span["end"] - span["start"]

    def span(self, name: str, fn, group: str | None = None):
        group = group or name
        self.sc.setJobGroup(group, name)
        start = self._now()
        try:
            return fn()
        finally:
            self.spans.append({"name": name, "start": start, "end": self._now(),
                               "parent": self.root, "job_group": group})
            self.sc.setJobGroup(self.root, self.root)


def forget_udf_contexts() -> None:
    """Call between stopping one SparkContext and starting the next in the
    same process. PySpark caches each UDF's Java function on first use,
    with the accumulator of the context of that moment; in the next context
    every task of such a UDF would report to the closed accumulator server
    of the old one (logged as "Failed to update accumulator"). Dropping the
    caches makes the UDFs bind to the new context."""
    import gc

    from pyspark.sql.udf import UserDefinedFunction

    for obj in gc.get_objects():
        if isinstance(obj, UserDefinedFunction):
            obj._judf_placeholder = None


def noop(*frames) -> None:
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


def etl_op(spark, paths: dict, store: str, tr: Tracer | None = None) -> list:
    """The ETL operation of the traced run: ``run_etl(..., ri_audit=True)``,
    its four tables materialized, then ``write_parquet_store`` — with a
    tracer, the write is the ``io.write_parquet_store`` span, so it times
    the write alone. Returns the frames ``run_etl`` left persisted."""
    from assignment_etl_spark.pipelines.runner import run_etl, write_parquet_store

    res = run_etl(spark, paths["patients"], paths["encounters"], paths["diagnoses"],
                  ri_audit=True)
    frames = list(res.tables().values())
    noop(*frames)
    if tr is None:
        write_parquet_store(res, store)
    else:
        tr.span("io.write_parquet_store", lambda: write_parquet_store(res, store))
    return frames


def trace_etl(spark, tr: Tracer, paths: dict) -> None:
    """The read, ops and pipeline spans."""
    from assignment_etl_spark.io.csv import read_csv
    from assignment_etl_spark.io.messy_csv import read_messy_csv
    from assignment_etl_spark.io.xml import read_diagnoses_xml
    from assignment_etl_spark.ops.dates import parse_datetime_columns
    from assignment_etl_spark.ops.strings import normalize_strings
    from assignment_etl_spark.pipelines import diagnoses, encounters, patients
    from assignment_etl_spark.schemas import ENCOUNTER_COLUMNS, PATIENTS_RAW

    def read(fn):
        df = fn()
        noop(df)
        return df

    tr.span("io.read_csv", lambda: read(
        lambda: read_csv(spark, paths["patients"], schema=PATIENTS_RAW)))
    raw_enc = tr.span("io.read_messy_csv", lambda: read(
        lambda: read_messy_csv(spark, paths["encounters"], ENCOUNTER_COLUMNS)))
    tr.span("io.read_diagnoses_xml", lambda: read(
        lambda: read_diagnoses_xml(spark, paths["diagnoses"])))

    # the ops spans run on persisted extracts, so they time the layer alone
    extract = raw_enc.persist()
    noop(extract)
    normalized = tr.span("ops.normalize_strings", lambda: read(
        lambda: normalize_strings(extract))).persist()
    noop(normalized)
    parsed = {}

    def parse_clean():
        parsed["out"], parsed["logs"] = parse_datetime_columns(
            normalized, ["admit_dt", "discharge_dt"])
        noop(parsed["out"])

    tr.span("ops.parse_datetime_columns.clean", parse_clean)
    tr.span("ops.parse_datetime_columns.logs", lambda: noop(parsed["logs"]))
    release(spark)

    for name, mod, path in (("pipelines.patients", patients, paths["patients"]),
                            ("pipelines.encounters", encounters, paths["encounters"]),
                            ("pipelines.diagnoses", diagnoses, paths["diagnoses"])):
        tr.span(name, lambda m=mod, p=path: noop(*m.run(spark, p, persist_intermediates=True)))
        release(spark)


def route_calls(seed: int, reasons: list[str]) -> list[tuple[str, str, dict]]:
    """One seeded request per route: (route, path, parsed query)."""
    import random

    rng = random.Random(seed)
    out = []
    for route in dashboard.ROUTES:
        params = dict(next(p for r, p in dashboard.CYCLE if r == route))
        path = dashboard.request_path(rng, route, params, reasons)
        out.append((route, path, urllib.parse.parse_qs(urllib.parse.urlparse(path).query)))
    return out


def dashboard_pass(app, calls, facts: dict, tr: Tracer | None = None):
    """CALLS rounds over every route in-process, each response checked.
    Returns (latencies per route, failed calls)."""
    lats: dict[str, list[float]] = {r: [] for r, _, _ in calls}
    failed = 0
    for i in range(CALLS):
        for route, path, params in calls:
            fn = getattr(app, route)
            t0 = time.perf_counter()
            if tr is None:
                out = fn(params)
            else:
                out = tr.span(f"analytics.{route}", lambda f=fn: f(params),
                              group=f"analytics.{route}#{i}")
            lats[route].append(time.perf_counter() - t0)
            body = out[0] if isinstance(out, tuple) else out
            failed += not dashboard.check_response(route, path, 200, body, facts)
    return lats, failed


def http_overhead_ms(app, calls, facts: dict) -> tuple[float, int]:
    """HTTP_PAIRS calls of the cheapest route (``/table``), each made
    in-process and over HTTP to an in-process server, in-process first in
    every other pair (the second call of a pair finds warmer caches).
    Returns the median of (HTTP latency − in-process latency) in ms and the
    number of failed checks. One cheap route keeps the route's own
    variance out of the difference."""
    from assignment_etl_spark.analytics.server import serve_dashboard

    route, path, params = next(c for c in calls if c[0] == "table")
    srv = serve_dashboard(app.tables, port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    diffs, failed = [], 0

    def inproc() -> float:
        nonlocal failed
        t0 = time.perf_counter()
        body = app.table(params)
        lat = time.perf_counter() - t0
        failed += not dashboard.check_response(route, path, 200, body, facts)
        return lat

    def http() -> float:
        nonlocal failed
        t0 = time.perf_counter()
        status, body = dashboard.fetch(base, path)
        lat = time.perf_counter() - t0
        failed += not dashboard.check_response(route, path, status, body, facts)
        return lat

    try:
        for i in range(HTTP_PAIRS):
            if i % 2 == 0:
                a = inproc()
                diffs.append(http() - a)
            else:
                b = http()
                diffs.append(b - inproc())
    finally:
        srv.shutdown()
        srv.server_close()
    return median(diffs) * 1000.0, failed


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.load(resp)


def group_totals(jobs: list[dict], stages: list[dict]) -> dict[str, dict[str, float]]:
    """Stage metrics summed per job group. A stage is credited once, to the
    first job (in job-id order) that lists it: the job that ran it. Later
    jobs that reuse its shuffle output list it again as skipped."""
    per_stage: dict[int, dict[str, float]] = {}
    for s in stages:  # one entry per stage attempt
        acc = per_stage.setdefault(s["stageId"], {"run": 0.0, "gc": 0.0, "shuffle": 0.0,
                                                  "spill": 0.0, "input": 0.0})
        acc["run"] += s.get("executorRunTime", 0) / 1000.0
        acc["gc"] += s.get("jvmGcTime", 0) / 1000.0
        acc["shuffle"] += s.get("shuffleWriteBytes", 0) / MB
        acc["spill"] += s.get("diskBytesSpilled", 0) / MB
        acc["input"] += s.get("inputBytes", 0) / MB
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = out.setdefault(j.get("jobGroup") or "", {"run": 0.0, "gc": 0.0, "shuffle": 0.0,
                                                     "spill": 0.0, "input": 0.0, "jobs": 0})
        g["jobs"] += 1
        for sid in j["stageIds"]:
            if sid not in seen:
                seen.add(sid)
                for k, v in per_stage.get(sid, {}).items():
                    g[k] += v
    return out


def stage_metrics(spark) -> dict[str, dict[str, float]]:
    """:func:`group_totals` from the REST API, once the status store has
    seen every job end: no job is running and the job list has stopped
    growing."""
    sc = spark.sparkContext
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    seen = -1
    for _ in range(50):
        jobs = _get(base, "/jobs")
        if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
            break
        seen = len(jobs)
        time.sleep(0.2)
    return group_totals(jobs, _get(base, "/stages"))


class Inputs:
    """The generated inputs of a traced run, and what they must give."""

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.etl = gen_sources.generate(os.path.join(work, "inputs"), seed, etl.N_ROWS)
        self.corpus = corpus.generate(os.path.join(work, "corpus"), seed)
        self.store = os.path.join(work, "store")
        self.attempted = self.failed = 0

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def open_dashboard(spark, inp: Inputs):
    """(store facts, DashboardApp, seeded calls) over the written store."""
    from assignment_etl_spark.analytics.server import DashboardApp

    facts = etl.store_facts(inp.store)
    tables = {t: spark.read.parquet(os.path.join(inp.store, t)) for t in etl.TABLES}
    return facts, DashboardApp(tables), route_calls(inp.seed, sorted(facts["reasons"]))


def untraced_pass(spark, inp: Inputs, workload: str) -> float:
    """Session one (untraced conf): a warm-up ETL operation, which writes
    the store the dashboard reads; then the wall of the named workload's
    operation: one more ETL operation, or three in-process calls of every
    route after a warm-up pass of the same calls."""
    def etl_run() -> float:
        clock = Clock()
        frames = etl_op(spark, inp.etl["paths"], inp.store)
        wall = clock.elapsed()
        inp.count(1, not etl.check_store(inp.store, inp.etl))
        release(spark, frames)
        return wall

    etl_run()
    if workload == "etl_batch":
        return etl_run()
    facts, app, calls = open_dashboard(spark, inp)
    _, failed = dashboard_pass(app, calls, facts)  # warm-up
    inp.count(CALLS * len(calls), failed)
    clock = Clock()
    _, failed = dashboard_pass(app, calls, facts)
    wall = clock.elapsed()
    inp.count(CALLS * len(calls), failed)
    release(spark)
    return wall


def traced_pass(spark, inp: Inputs, workload: str, untraced_wall: float) -> dict[str, float]:
    """Session two (UI on): the plain operations traced, every layer's
    spans and the HTTP overhead. Returns the per-layer metrics."""
    tr = Tracer(spark)
    wall: dict[str, float] = {}
    persists: dict[str, int] = {}

    def etl_batch() -> None:
        store = os.path.join(inp.work, "store_traced")
        tr.open_root("etl_batch")
        frames = etl_op(spark, inp.etl["paths"], store, tr)
        wall["etl_batch"] = tr.close_root()
        persists["etl_batch"] = release(spark, frames)
        inp.count(1, not etl.check_store(store, inp.etl))

    def layers() -> None:
        tr.open_root("etl_layers")
        trace_etl(spark, tr, inp.etl["paths"])
        tr.close_root()
        tr.open_root("ext_layers")
        digests, facts = corpus.ext_pass(spark, inp.corpus, tr.span)
        tr.close_root()
        release(spark)
        inp.count(1, not corpus.check(digests, facts, inp.corpus["expected"]))
        for name, hexdigest in digests.items():
            print(f"digest {name} {hexdigest}")

    def dashboard_reads() -> None:
        facts, app, calls = open_dashboard(spark, inp)
        _, failed = dashboard_pass(app, calls, facts)  # warm-up of this session
        inp.count(CALLS * len(calls), failed)
        tr.open_root("dashboard_reads")
        lats, failed = dashboard_pass(app, calls, facts, tr)
        wall["dashboard_reads"] = tr.close_root()
        persists["dashboard_reads"] = release(spark)
        inp.count(CALLS * len(calls), failed)
        traced_lats.update(lats)
        http_ms, failed = http_overhead_ms(app, calls, facts)
        wall["http_overhead_ms"] = http_ms
        inp.count(2 * HTTP_PAIRS, failed)

    traced_lats: dict[str, list[float]] = {}
    # the named workload's operation first, so it runs about as warm as its
    # untraced twin of session one
    order = [etl_batch, layers, dashboard_reads]
    order.sort(key=lambda step: step.__name__ != workload)
    for step in order:
        step()

    by_group = stage_metrics(spark)
    metrics: dict[str, float] = {}
    for s in tr.spans:
        if s["parent"] not in ("etl_batch", "etl_layers", "ext_layers"):
            continue
        g = by_group.get(s["job_group"], {})
        metrics[f"{s['name']}.wall_s"] = s["end"] - s["start"]
        metrics[f"{s['name']}.executor_run_s"] = g.get("run", 0.0)
        metrics[f"{s['name']}.gc_s"] = g.get("gc", 0.0)
        metrics[f"{s['name']}.shuffle_write_mb"] = g.get("shuffle", 0.0)
        metrics[f"{s['name']}.spill_mb"] = g.get("spill", 0.0)
    for route, lats in traced_lats.items():
        gs = [by_group.get(f"analytics.{route}#{i}", {}) for i in range(CALLS)]
        metrics[f"analytics.{route}.p50_ms"] = median(lats) * 1000.0
        metrics[f"analytics.{route}.input_mb"] = sum(g.get("input", 0.0) for g in gs) / CALLS
        metrics[f"analytics.{route}.jobs"] = sum(g.get("jobs", 0) for g in gs) / CALLS
    metrics["analytics.http_overhead_ms"] = wall["http_overhead_ms"]

    mine = {s["job_group"] for s in tr.spans if workload in (s["name"], s["parent"])}
    run_s = sum(by_group.get(g, {}).get("run", 0.0) for g in mine)
    metrics["spark.idle_core_share"] = 1.0 - run_s / (wall[workload] * cpus())
    metrics["caching.scoped_persists"] = persists[workload]
    metrics["trace.overhead_ratio"] = wall[workload] / untraced_wall

    write_spans(tr.spans, workload, inp.seed)
    print_self_times(tr.spans)
    return metrics


def write_spans(spans: list[dict], workload: str, seed: int) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"spans-{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump(spans, fh, indent=1)
    return path


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: a child span's layer is its first name part; a
    root's self time is its wall minus the part its children cover."""
    out: dict[str, float] = {}
    for s in spans:
        wall = s["end"] - s["start"]
        if s["parent"] is None:
            kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["name"])
            out[f"{s['name']} (glue)"] = out.get(f"{s['name']} (glue)", 0.0) + wall - kids
        else:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + wall
    return out


def print_self_times(spans: list[dict]) -> None:
    for layer, secs in sorted(self_times(spans).items()):
        print(f"self_time {layer} {secs:.3f} s")
