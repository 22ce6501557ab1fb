"""Deployment entry points: the reference container's two commands
(`python etl.py` then the Streamlit dashboard — Dockerfile:24,
docker-compose.yml:10,41) as one argparse CLI over the Spark engine.

  python -m assignment_etl_spark run-etl --patients P --encounters E \
      --diagnoses D --store DIR [--jdbc-url URL]
  python -m assignment_etl_spark serve-dashboard --store DIR --port 8501 \
      [--host 0.0.0.0]

run-etl executes the full pipeline, writes the parquet store, and — when
a JDBC URL is given — loads the four outputs into the warehouse exactly
like the reference's to_sql(if_exists='replace') load (overwrite +
truncate via io/jdbc.write_jdbc). serve-dashboard reads the store back
and serves the interactive widget endpoints (analytics/server.py) on
--host (default 127.0.0.1; a container passes 0.0.0.0 so its published
port reaches the server), blocking until interrupted. It takes the app's
snapshot (the table stats, the table previews and the Data Quality page)
before it prints its ``dashboard on`` line, so the first request of every
route is served from a ready app; restart it after rewriting the store. Container wiring
lives in /Dockerfile and /docker-compose.yml; the env vars there
(POSTGRES_HOST etc.) are assembled into the JDBC URL here, mirroring the
reference's compose contract.
"""

from __future__ import annotations

import argparse
import os
import sys


def _jdbc_url_from_env() -> str | None:
    """Assemble a Postgres JDBC URL from the reference compose env vars."""
    host = os.environ.get("POSTGRES_HOST")
    if not host:
        return None
    port = os.environ.get("POSTGRES_PORT", "5432")
    db = os.environ.get("POSTGRES_DB", "postgres")
    return f"jdbc:postgresql://{host}:{port}/{db}"


def _jdbc_props_from_env() -> dict[str, str]:
    props = {"driver": "org.postgresql.Driver"}
    if os.environ.get("POSTGRES_USER"):
        props["user"] = os.environ["POSTGRES_USER"]
    if os.environ.get("POSTGRES_PASSWORD"):
        props["password"] = os.environ["POSTGRES_PASSWORD"]
    return props


def cmd_run_etl(args: argparse.Namespace) -> int:
    from assignment_etl_spark.caching import release_scoped_caches
    from assignment_etl_spark.io.jdbc import write_jdbc
    from assignment_etl_spark.pipelines.runner import run_etl, write_parquet_store
    from assignment_etl_spark.session import get_spark

    spark = get_spark("etl", master=args.master)
    res = run_etl(spark, args.patients, args.encounters, args.diagnoses)
    write_parquet_store(res, args.store)
    url = args.jdbc_url or _jdbc_url_from_env()
    if url:
        props = _jdbc_props_from_env()
        for name in ("patients", "encounters", "diagnoses", "logs"):
            write_jdbc(getattr(res, name), url, f"{args.table_prefix}{name}",
                       properties=props)
    # the process may go on to serve the store; keep none of the run's caches
    release_scoped_caches()
    print(f"etl complete: store={args.store}" + (f" jdbc={url}" if url else ""))
    return 0


def cmd_serve_dashboard(args: argparse.Namespace) -> int:
    from assignment_etl_spark.analytics.server import serve_dashboard
    from assignment_etl_spark.session import get_spark

    spark = get_spark("dashboard", master=args.master)
    tables = {}
    for name in ("patients", "encounters", "diagnoses", "logs"):
        path = os.path.join(args.store, name)
        if os.path.exists(path):
            tables[name] = spark.read.parquet(path)
    if not tables:
        print(f"no tables found under {args.store}", file=sys.stderr)
        return 1
    srv = serve_dashboard(tables, host=args.host, port=args.port)
    host, port = srv.server_address[:2]
    print(f"dashboard on http://{host}:{port}/ "
          f"(tables: {', '.join(tables)})")
    try:
        import threading

        threading.Event().wait()  # serve until interrupted
    except KeyboardInterrupt:
        srv.shutdown()
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="assignment_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("run-etl", help="run the full ETL and write the store")
    e.add_argument("--patients", required=True)
    e.add_argument("--encounters", required=True)
    e.add_argument("--diagnoses", required=True)
    e.add_argument("--store", required=True)
    e.add_argument("--jdbc-url", default=None,
                   help="optional warehouse load target (else POSTGRES_* env)")
    e.add_argument("--table-prefix", default="etl_")
    e.add_argument("--master", default=None)
    e.set_defaults(fn=cmd_run_etl)

    d = sub.add_parser("serve-dashboard", help="serve the interactive dashboard")
    d.add_argument("--store", required=True)
    d.add_argument("--host", default="127.0.0.1",
                   help="address to bind (0.0.0.0 inside a container)")
    d.add_argument("--port", type=int, default=8501)
    d.add_argument("--master", default=None)
    d.set_defaults(fn=cmd_serve_dashboard)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
