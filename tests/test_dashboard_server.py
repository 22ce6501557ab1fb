"""Interactive dashboard HTTP serving (analytics/server.py): real HTTP
requests against a live server, asserting route-by-route parity with the
pushdown queries the widgets wrap."""

import csv
import io
import re
import threading
import time
import urllib.request

import pytest
from pyspark.sql import functions as F

from assignment_etl_spark import internals
from assignment_etl_spark.analytics.dashboard import (
    numeric_histogram,
    records_over_time,
    table_stats,
    top_categories,
)
from assignment_etl_spark.analytics.queries import value_counts
from assignment_etl_spark.analytics.render import preview_table, quality_section
from assignment_etl_spark.analytics.server import DashboardApp, serve_dashboard
from assignment_etl_spark.caching import scoped_cache_count
from assignment_etl_spark.pipelines.runner import run_etl, write_parquet_store

_BAR = re.compile(r"<title>([^<]*): (\d+)</title>")


@pytest.fixture(scope="module")
def etl(spark, fixture_dir):
    return run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / "diagnoses.xml"),
    )


@pytest.fixture(scope="module")
def server(etl):
    srv = serve_dashboard(
        {
            "patients": etl.patients,
            "encounters": etl.encounters,
            "diagnoses": etl.diagnoses,
            "logs": etl.logs,
        }
    )
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def store_tables(spark, etl, tmp_path_factory):
    """The written parquet store read back, as serve-dashboard reads it."""
    store = str(tmp_path_factory.mktemp("store"))
    write_parquet_store(etl, store)
    names = ("patients", "encounters", "diagnoses", "logs")
    return {n: spark.read.parquet(f"{store}/{n}") for n in names}


@pytest.fixture(scope="module")
def store_app(store_tables):
    """The app over the written parquet store, as serve-dashboard builds
    it: the job counts below are those of a served store."""
    return DashboardApp(store_tables)


def _bars(body: bytes) -> list[tuple[str, int]]:
    """(label, count) of each bar of the page's first chart."""
    svg = body.decode().split("</svg>", 1)[0]
    return [(lab, int(n)) for lab, n in _BAR.findall(svg)]


def _get(server, path):
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.headers, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers, e.read().decode()


def test_index_lists_tables(server):
    status, _, body = _get(server, "/")
    assert status == 200
    for t in ("patients", "encounters", "diagnoses", "logs"):
        assert f"/table?name={t}" in body


def test_table_preview_and_pickers(server):
    status, _, body = _get(server, "/table?name=patients")
    assert status == 200
    assert "Preview of patients" in body
    # dtype-driven widget pickers (reference selectboxes)
    assert "/histogram?table=patients&column=height_cm" in body
    assert "/timeline?table=patients&column=dob_parsed" in body
    assert "/categories?table=patients&column=" in body
    assert "/scatter?table=patients&x=" in body


def test_histogram_route_runs_query(server):
    status, _, body = _get(server, "/histogram?table=patients&column=height_cm&bins=10")
    assert status == 200
    assert "<svg" in body and "Distribution of height_cm" in body


def test_categories_matches_pushdown(server, etl):
    status, _, body = _get(server, "/categories?table=logs&column=reason&k=5")
    assert status == 200
    for r in top_categories(etl.logs, "reason", 5).collect():
        assert f">{r['reason']}:" in body or r["reason"] in body


def test_categories_slider_bounds(server):
    status, _, body = _get(server, "/categories?table=logs&column=reason&k=99")
    assert status == 400  # reference slider bound is 5..50


def test_quality_tab(server):
    status, _, body = _get(server, "/quality")
    assert status == 200
    assert "Frequency of Data Quality Issues" in body
    assert "/drilldown?reason=" in body and "/download?reason=" in body


def test_drilldown_matches_filter(server, etl):
    reason = etl.logs.select("reason").first()["reason"]
    status, _, body = _get(server, f"/drilldown?reason={reason}")
    assert status == 200
    n = etl.logs.filter(F.col("reason") == reason).count()
    assert body.count("<tr>") == n + 1  # header row + data rows


def test_csv_download_matches_rows(server, etl):
    reason = etl.logs.select("reason").first()["reason"]
    status, headers, body = _get(server, f"/download?reason={reason}")
    assert status == 200
    assert headers["Content-Type"] == "text/csv"
    assert f'filename="log_{reason}.csv"' in headers["Content-Disposition"]
    rows = list(csv.DictReader(io.StringIO(body)))
    assert len(rows) == etl.logs.filter(F.col("reason") == reason).count()
    assert all(r["reason"] == reason for r in rows)


def test_unknown_table_is_400(server):
    status, _, _ = _get(server, "/histogram?table=nope&column=x")
    assert status == 400


def test_unknown_route_is_404(server):
    status, _, _ = _get(server, "/nope")
    assert status == 404


def _job_count(spark, group: str, fn) -> int:
    """Jobs ``fn`` ran, read from the status tracker under its own group
    (the tracker is fed asynchronously: wait until the count settles)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(_settled_job_ids(spark, group))


def _settled_job_ids(spark, group: str | None) -> list[int]:
    """The jobs of ``group`` (None: the jobs run outside any group) once
    the status tracker, which is fed asynchronously, stops changing."""
    tracker = spark.sparkContext.statusTracker()
    seen = None
    for _ in range(50):
        ids = sorted(tracker.getJobIdsForGroup(group))
        if ids == seen:
            break
        seen = ids
        time.sleep(0.1)
    return seen


def test_routes_run_one_aggregation_per_widget(spark, store_app):
    """Bounds and the row count come from the app's table stats, and the
    render-sized results sort inside one partition: no bounds pass, no
    count, no range-partition sample or sort exchange per request. The
    parameter-free pages are part of the snapshot and start no job."""
    calls = {
        "histogram": ({"table": ["patients"], "column": ["height_cm"], "bins": ["30"]}, 2),
        "timeline": ({"table": ["encounters"], "column": ["admit_dt"], "bins": ["50"]}, 2),
        "scatter": ({"table": ["patients"], "x": ["height_cm"], "y": ["weight_kg"],
                     "color": ["sex"]}, 1),
        "table": ({"name": ["logs"]}, 0),
        "quality": ({}, 0),
    }
    for route, (params, most) in calls.items():
        fn = getattr(store_app, route)
        n = _job_count(spark, f"route-jobs-{route}", lambda f=fn, p=params: f(p))
        assert min(most, 1) <= n <= most, (route, n)


def test_snapshot_jobs_are_taken_at_construction(spark, store_tables):
    """Building the app runs the stats aggregation of each table, the
    Data Quality page's jobs and each table's preview, and nothing else."""
    parts = {
        "stats": sum(_job_count(spark, f"stats-{t}", lambda d=df: table_stats(d))
                     for t, df in store_tables.items()),
        "quality": _job_count(spark, "quality", lambda: quality_section(store_tables["logs"])),
        "previews": sum(_job_count(spark, f"preview-{t}", lambda d=df: preview_table(d))
                        for t, df in store_tables.items()),
    }
    n = _job_count(spark, "app-init", lambda: DashboardApp(store_tables))
    # per table: the stats aggregation's shuffle and result jobs and at most
    # two preview jobs; plus the Data Quality page's 4
    assert parts["quality"] == 4, parts
    assert n == sum(parts.values()) <= 4 * len(store_tables) + 4, (parts, n)


def test_quality_page_is_the_rendered_section(store_app):
    """The stored page is the page ``quality_section`` renders fresh."""
    assert store_app.quality({}) == store_app._quality_page()


def test_concurrent_quality_calls_share_the_snapshot(spark, store_app, store_tables):
    """Eight handler threads asking /quality at once all get the same page
    and start no Spark job (the handler threads carry no job group)."""
    srv = serve_dashboard(store_tables)
    last = max(_settled_job_ids(spark, None), default=-1)
    barrier = threading.Barrier(8, timeout=60)
    bodies = [None] * 8

    def call(i):
        barrier.wait()
        bodies[i] = _get(srv, "/quality")

    try:
        threads = [threading.Thread(target=call, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        srv.shutdown()
    assert [j for j in _settled_job_ids(spark, None) if j > last] == []
    assert {(status, body) for status, _, body in bodies} == {
        (200, store_app.quality({}).decode())}


def test_app_without_logs_table_serves_quality_as_400(etl):
    srv = serve_dashboard({"patients": etl.patients})
    try:
        status, _, body = _get(srv, "/quality")
        assert status == 400 and "unknown table 'logs'" in body
        assert _get(srv, "/table?name=patients")[0] == 200
    finally:
        srv.shutdown()


def test_serving_leaves_no_cache_behind(spark, store_tables):
    """A long-lived server: building the app and serving every route N
    times registers no scoped persist and leaves no persistent RDD."""
    reason = store_tables["logs"].select("reason").first()["reason"]
    before = (scoped_cache_count(), len(internals.persistent_rdd_ids(spark)))
    srv = serve_dashboard(store_tables)
    paths = ["/", "/table?name=patients", "/table?name=logs",
             "/histogram?table=patients&column=height_cm&bins=10",
             "/timeline?table=encounters&column=admit_dt&bins=20",
             "/categories?table=logs&column=reason&k=5",
             "/scatter?table=patients&x=height_cm&y=weight_kg&color=sex",
             "/quality", f"/drilldown?reason={reason}", f"/download?reason={reason}"]
    try:
        for _ in range(3):
            for path in paths:
                assert _get(srv, path)[0] == 200, path
    finally:
        srv.shutdown()
    after = (scoped_cache_count(), len(internals.persistent_rdd_ids(spark)))
    assert after[0] <= before[0] and after[1] <= before[1], (before, after)


def test_stats_backed_histograms_match_per_request_bounds(store_app):
    """The snapshot bounds give the same bars as bounds computed per
    request."""
    for table, col, bins in (("patients", "height_cm", 10), ("encounters",
                             "length_of_stay_hours", 30), ("patients", "weight_kg", 7)):
        body = store_app.histogram({"table": [table], "column": [col], "bins": [str(bins)]})
        want = numeric_histogram(store_app.tables[table], col, bins).collect()
        assert _bars(body) == [(str(r["bucket"]), r["count"]) for r in want]
    for table, col, bins in (("encounters", "admit_dt", 5), ("encounters",
                             "discharge_dt", 50), ("patients", "dob_parsed", 20)):
        body = store_app.timeline({"table": [table], "column": [col], "bins": [str(bins)]})
        want = records_over_time(store_app.tables[table], col, bins).collect()
        assert _bars(body) == [(str(r["bucket"]), r["count"]) for r in want]


def test_quality_reason_bars_in_value_counts_order(store_app):
    """The reason bars, summed from the file × reason counts, keep
    value_counts' order: count descending, then reason ascending."""
    body = store_app.quality({})
    want = value_counts(store_app.tables["logs"], "reason").collect()
    assert _bars(body) == [(str(r["reason"]), r["count"]) for r in want]
    # the drilldown links follow the bars
    links = re.findall(r"/drilldown\?reason=([^']*)'", body.decode())
    assert links == [r["reason"] for r in want]


def test_unknown_column_is_400(server):
    for path in ("/histogram?table=patients&column=nope",
                 "/timeline?table=encounters&column=nope",
                 "/categories?table=logs&column=nope&k=5",
                 "/scatter?table=patients&x=nope&y=weight_kg",
                 "/scatter?table=patients&x=height_cm&y=weight_kg&color=nope"):
        status, _, body = _get(server, path)
        assert status == 400 and "unknown column 'nope'" in body, path


def test_wrong_column_kind_is_400(server):
    """/histogram takes numeric columns and /timeline datetime columns,
    as the table page's pickers link them."""
    for path, kind in (("/histogram?table=patients&column=sex", "numeric"),
                       ("/histogram?table=patients&column=dob_parsed", "numeric"),
                       ("/timeline?table=patients&column=height_cm", "datetime"),
                       ("/scatter?table=patients&x=sex&y=weight_kg", "numeric")):
        status, _, body = _get(server, path)
        assert status == 400 and body.endswith(f"is not {kind}"), path


def test_bins_below_one_is_400(server):
    for bins in ("0", "-3"):
        status, _, body = _get(server, f"/histogram?table=patients&column=height_cm&bins={bins}")
        assert status == 400 and "bins must be at least 1" in body
    status, _, _ = _get(server, "/timeline?table=encounters&column=admit_dt&bins=0")
    assert status == 400


def test_column_without_values_is_empty_chart(etl):
    """An all-NULL column and an empty table render an empty chart, 200."""
    srv = serve_dashboard({
        "nulls": etl.patients.withColumn("height_cm", F.lit(None).cast("double")),
        "empty": etl.encounters.limit(0),
    })
    try:
        for path in ("/histogram?table=nulls&column=height_cm&bins=10",
                     "/histogram?table=empty&column=length_of_stay_hours",
                     "/timeline?table=empty&column=admit_dt",
                     "/scatter?table=empty&x=length_of_stay_hours&y=length_of_stay_hours"):
            status, _, body = _get(srv, path)
            assert status == 200 and "(no data for " in body and "<rect" not in body, path
    finally:
        srv.shutdown()
