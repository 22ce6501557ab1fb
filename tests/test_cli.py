"""Deployment CLI (assignment_etl_spark/cli.py): run-etl writes the
store; serve-dashboard serves it — the two container commands end to end
(JDBC load covered separately by test_jdbc's real Derby round-trip)."""

import urllib.request

from assignment_etl_spark.cli import build_parser, cmd_run_etl


def test_run_etl_writes_store(spark, fixture_dir, tmp_path):
    store = str(tmp_path / "store")
    args = build_parser().parse_args(
        [
            "run-etl",
            "--patients", str(fixture_dir / "patients.csv"),
            "--encounters", str(fixture_dir / "encounters.csv"),
            "--diagnoses", str(fixture_dir / "diagnoses.xml"),
            "--store", store,
        ]
    )
    assert args.fn is cmd_run_etl
    assert args.fn(args) == 0
    assert spark.read.parquet(f"{store}/patients").count() == 11
    assert spark.read.parquet(f"{store}/logs").count() == 28


def test_serve_dashboard_from_store(spark, fixture_dir, tmp_path):
    store = str(tmp_path / "store")
    run_args = build_parser().parse_args(
        [
            "run-etl",
            "--patients", str(fixture_dir / "patients.csv"),
            "--encounters", str(fixture_dir / "encounters.csv"),
            "--diagnoses", str(fixture_dir / "diagnoses.xml"),
            "--store", store,
        ]
    )
    run_args.fn(run_args)
    # serve on an ephemeral port without blocking (the CLI command blocks;
    # drive the same server factory it wraps)
    from assignment_etl_spark.analytics.server import serve_dashboard

    tables = {
        n: spark.read.parquet(f"{store}/{n}")
        for n in ("patients", "encounters", "diagnoses", "logs")
    }
    srv = serve_dashboard(tables)
    try:
        port = srv.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/table?name=patients") as r:
            assert r.status == 200 and "Preview of patients" in r.read().decode()
    finally:
        srv.shutdown()


def test_serve_dashboard_host(spark):
    """--host defaults to loopback; serve_dashboard binds the host it is
    given (0.0.0.0 in a container, so a published port reaches it)."""
    from assignment_etl_spark.analytics.server import serve_dashboard

    args = build_parser().parse_args(["serve-dashboard", "--store", "s"])
    assert args.host == "127.0.0.1"
    srv = serve_dashboard({"t": spark.range(3)}, host="0.0.0.0")
    try:
        assert srv.server_address[0] == "0.0.0.0"
        port = srv.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/table?name=t") as r:
            assert r.status == 200
    finally:
        srv.shutdown()


def test_jdbc_url_from_env(monkeypatch):
    from assignment_etl_spark.cli import _jdbc_props_from_env, _jdbc_url_from_env

    monkeypatch.delenv("POSTGRES_HOST", raising=False)
    assert _jdbc_url_from_env() is None
    monkeypatch.setenv("POSTGRES_HOST", "pg")
    monkeypatch.setenv("POSTGRES_DB", "db1")
    monkeypatch.setenv("POSTGRES_USER", "u")
    monkeypatch.setenv("POSTGRES_PASSWORD", "s")
    assert _jdbc_url_from_env() == "jdbc:postgresql://pg:5432/db1"
    props = _jdbc_props_from_env()
    assert props["user"] == "u" and props["driver"] == "org.postgresql.Driver"
