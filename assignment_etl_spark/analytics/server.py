"""Interactive dashboard serving: the reference's Streamlit app
(/root/reference/interactive_dashboard.py:37-194) as a dependency-free
stdlib ``http.server`` endpoint over the engine's pushdown widget queries.

Widget-for-widget parity, but with the serving model inverted for scale:
Streamlit loads ENTIRE tables into pandas per rerun (`pd.read_sql_table`,
interactive_dashboard.py:25-27) and lets plotly aggregate in the browser;
here a widget change is an HTTP request that runs one pushed-down Spark
aggregation through analytics/render.py's chart helpers and returns a
render-sized HTML fragment — never a table download.

The app serves a snapshot: it takes ``table_stats`` once per table (row
count, column kinds, numeric and datetime bounds), so a histogram or
timeline runs no bounds pass and a scatter no count. The widgets that take
no request parameter are part of the snapshot too: each table's page with
its 5-row preview and the Data Quality page (its reason bars summed from
the file × reason counts) are rendered once at construction, so /table
and /quality start no Spark job. Columns are checked against that schema
before any query is built (a bad one is a 400). The snapshot is
read-only, so the handler threads share it without a lock; a rewritten
store needs a new app.

Routes → reference widgets:
  /                         table selectbox (dashboard.py:37)
  /table?name=T             preview + dtype-driven pickers (41-49)
  /histogram?table&column&bins      numeric tab, 30-bin histogram (67-70)
  /scatter?table&x&y[&color]       scatter with category color (72-93)
  /timeline?table&column&bins      records-over-time, 50 bins (98-110)
  /categories?table&column&k       categorical top-N, slider 5-50 (114-121)
  /quality                   Data Quality tab (134-177)
  /drilldown?reason=R        reason drilldown table (180-186)
  /download?reason=R         filtered-log CSV download (189-194)
"""

from __future__ import annotations

import csv
import io
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame

from assignment_etl_spark.analytics.dashboard import quality_drilldown, table_stats
from assignment_etl_spark.analytics.render import (
    _esc,
    _html_table,
    categories_chart,
    histogram_chart,
    html_page,
    preview_table,
    quality_section,
    scatter_chart,
    timeline_chart,
)

DRILLDOWN_COLS = ["patient_id", "filename", "original_value", "cleaned_value", "reason"]


def _page(title: str, body: str) -> bytes:
    return html_page(title, body + "<p><a href='/'>⌂ tables</a></p>").encode()


def _bins(params: dict, default: str) -> int:
    bins = int(params.get("bins", [default])[0])
    if bins < 1:
        raise ValueError("bins must be at least 1")
    return bins


def _column(
    params: dict, key: str, df: DataFrame, stats: dict, kind: str | None = None
) -> str:
    """``params[key]`` checked against the table's schema and, with
    ``kind``, against that ``classify_columns`` kind."""
    col = params[key][0]
    if col not in df.columns:
        raise KeyError(f"unknown column {col!r}")
    if kind is not None and col not in stats["kinds"][kind]:
        raise ValueError(f"column {col!r} is not {kind}")
    return col


class DashboardApp:
    """Routes widget requests onto pushdown queries. Split from the HTTP
    handler so tests can drive it directly and any front end can reuse it.
    Serves a snapshot: ``__init__`` takes ``table_stats`` of every table
    once and renders the parameter-free pages (each table's preview page
    and, when the logs table is present, the Data Quality page), so a
    store rewritten while it is served needs a new app."""

    def __init__(
        self,
        tables: dict[str, DataFrame],
        *,
        logs_table: str = "logs",
        id_cols: dict[str, str] | None = None,
    ) -> None:
        self.tables = tables
        self.logs_table = logs_table
        self.id_cols = id_cols or {}
        self.stats = {name: table_stats(df) for name, df in tables.items()}
        self.table_pages = {name: self._table_page(name) for name in tables}
        self.quality_page = self._quality_page() if logs_table in tables else None

    def _table(self, params: dict, key: str = "table") -> tuple[str, DataFrame, dict]:
        name = params.get(key, [""])[0]
        if name not in self.tables:
            raise KeyError(f"unknown table {name!r}")
        return name, self.tables[name], self.stats[name]

    # ------------------------------------------------------------ routes

    def index(self, params: dict) -> bytes:
        links = "".join(
            f"<li><a href='/table?name={_esc(n)}'>{_esc(n)}</a></li>"
            for n in self.tables
        )
        return _page("ETL Data Distribution Dashboard", f"<ul>{links}</ul>")

    def table(self, params: dict) -> bytes:
        return self.table_pages[self._table(params, "name")[0]]

    def _table_page(self, name: str) -> bytes:
        df, kinds = self.tables[name], self.stats[name]["kinds"]
        links = [(f"histogram?table={name}&column={c}&bins=30", f"histogram of {c}")
                 for c in kinds["numeric"]]
        links += [(f"timeline?table={name}&column={c}&bins=50", f"records over time by {c}")
                  for c in kinds["datetime"]]
        links += [(f"categories?table={name}&column={c}&k=10", f"top values of {c}")
                  for c in kinds["categorical"]]
        if len(kinds["numeric"]) >= 2:
            x, y = kinds["numeric"][:2]
            links.append((f"scatter?table={name}&x={x}&y={y}", f"scatter {y} vs {x}"))
        pickers = "".join(f"<li><a href='/{href}'>{_esc(text)}</a></li>" for href, text in links)
        body = f"<h3>Preview of {_esc(name)}</h3>{preview_table(df)}<ul>{pickers}</ul>"
        if name == self.logs_table:
            body += "<p><a href='/quality'>🧹 Data Quality tab</a></p>"
        return _page(f"Table {name}", body)

    def histogram(self, params: dict) -> bytes:
        _, df, stats = self._table(params)
        col = _column(params, "column", df, stats, "numeric")
        svg = histogram_chart(df, stats, col, _bins(params, "30"))
        return _page(f"Distribution of {col}", svg)

    def timeline(self, params: dict) -> bytes:
        _, df, stats = self._table(params)
        col = _column(params, "column", df, stats, "datetime")
        svg = timeline_chart(df, stats, col, _bins(params, "50"))
        return _page(f"Records over time by {col}", svg)

    def categories(self, params: dict) -> bytes:
        _, df, stats = self._table(params)
        col = _column(params, "column", df, stats)
        k = int(params.get("k", ["10"])[0])  # slider 5..50, validated by top_categories
        return _page(f"Top {k} values of {col}", categories_chart(df, col, k))

    def scatter(self, params: dict) -> bytes:
        name, df, stats = self._table(params)
        x, y = (_column(params, key, df, stats, "numeric") for key in ("x", "y"))
        color = _column(params, "color", df, stats) if "color" in params else None
        svg = scatter_chart(df, stats, x, y, color, self.id_cols.get(name))
        return _page(f"{y} vs {x}", svg)

    def quality(self, params: dict) -> bytes:
        if self.quality_page is None:
            raise KeyError(f"unknown table {self.logs_table!r}")
        return self.quality_page

    def _quality_page(self) -> bytes:
        body, reasons = quality_section(self.tables[self.logs_table])
        drill = "".join(
            f"<li><a href='/drilldown?reason={_esc(r)}'>{_esc(r)}"
            f"</a> (<a href='/download?reason={_esc(r)}'>csv</a>)</li>"
            for r in reasons
        )
        body += f"\n<h3>Inspect specific issue type</h3>\n<ul>{drill}</ul>"
        return _page("Data Quality Overview", body)

    def _drill_rows(self, params: dict, limit: int = 1000) -> list[dict]:
        reason = params.get("reason", [""])[0]
        logs = self.tables[self.logs_table]
        cols = [c for c in DRILLDOWN_COLS if c in logs.columns]
        rows = quality_drilldown(logs, reason).select(*cols).orderBy(*cols).limit(limit)
        return [r.asDict() for r in rows.collect()]

    def drilldown(self, params: dict) -> bytes:
        reason = params.get("reason", [""])[0]
        rows = self._drill_rows(params)
        return _page(f"Issue type: {reason}", _html_table(rows, max_rows=1000))

    def download(self, params: dict) -> tuple[bytes, str, str]:
        """CSV export of the drilldown — body, content type, filename."""
        reason = params.get("reason", [""])[0]
        rows = self._drill_rows(params)
        buf = io.StringIO()
        if rows:
            w = csv.DictWriter(buf, fieldnames=list(rows[0].keys()))
            w.writeheader()
            w.writerows(rows)
        return buf.getvalue().encode(), "text/csv", f"log_{reason}.csv"


def serve_dashboard(
    tables: dict[str, DataFrame],
    *,
    host: str = "127.0.0.1",
    port: int = 0,
    logs_table: str = "logs",
    id_cols: dict[str, str] | None = None,
) -> ThreadingHTTPServer:
    """Start the dashboard server on ``host``:``port`` (0 = ephemeral) in a
    daemon thread and return the server (``.server_address`` is the bound
    address; ``.shutdown()`` stops it). The tables are served as the
    snapshot ``DashboardApp`` takes before this returns; serve a rewritten
    store with a new call."""
    app = DashboardApp(tables, logs_table=logs_table, id_cols=id_cols)
    routes = {"/": app.index} | {
        f"/{r}": getattr(app, r)
        for r in ("table", "histogram", "timeline", "categories", "scatter", "quality",
                  "drilldown")
    }

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test output
            pass

        def do_GET(self):  # noqa: N802 (stdlib API name)
            u = urlparse(self.path)
            params = parse_qs(u.query)
            status, headers = 200, {"Content-Type": "text/html; charset=utf-8"}
            try:
                if u.path == "/download":
                    body, ctype, fname = app.download(params)
                    headers = {"Content-Type": ctype,
                               "Content-Disposition": f'attachment; filename="{fname}"'}
                elif u.path in routes:
                    body = routes[u.path](params)
                else:
                    status, body = 404, b"not found"
            except (KeyError, ValueError) as e:
                status, body = 400, str(e).encode()
            except Exception as e:  # answer, never drop the connection
                status, body = 500, f"{type(e).__name__}: {e}".encode()
            if status != 200:
                headers = {"Content-Type": "text/plain"}
            self.send_response(status)
            for k, v in {**headers, "Content-Length": str(len(body))}.items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer((host, port), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
