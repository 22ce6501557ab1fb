"""Runnable render layer: the reference's Streamlit+Plotly dashboard
(/root/reference/interactive_dashboard.py:30-120) re-expressed as a static,
dependency-free HTML report over the engine's pushdown widget queries
(analytics/dashboard.py).

The reference ships whole tables to the browser and lets plotly aggregate;
here every figure is computed by Spark (histogram_numeric / histogram_time /
top_k / scatter_sample / quality_report return render-sized results) and the
driver only assembles inline SVG. The ``*_chart`` helpers are the one
widget layer, called by the served dashboard (analytics/server.py) and by
this static export: each is one aggregation over the bounds and row count
``table_stats`` took once per table. The output is a self-contained .html
whose widgets match the reference tab-for-tab (preview, numeric histogram,
scatter, records over time, categorical top-N, data-quality tab for logs).
"""

from __future__ import annotations

import html
from collections import Counter
from collections.abc import Sequence

from pyspark.sql import DataFrame

from assignment_etl_spark.analytics.dashboard import (
    quality_report,
    scatter_sample,
    table_stats,
    top_categories,
)
from assignment_etl_spark.analytics.queries import histogram_numeric, histogram_time

_W, _H, _PAD = 640, 220, 40
_PALETTE = ["#4e79a7", "#f28e2b", "#59a14f", "#e15759", "#76b7b2", "#edc948"]
_STYLE = (
    "<style>body{font-family:sans-serif;max-width:820px;margin:auto}"
    "table{border-collapse:collapse;font-size:12px}"
    "td,th{border:1px solid #ccc;padding:2px 6px}svg{display:block;margin:12px 0}"
    "</style>"
)


def _esc(v: object) -> str:
    return html.escape(str(v))


def _svg_bars(labels: Sequence[object], values: Sequence[float], title: str) -> str:
    """Minimal inline-SVG bar chart (the px.histogram / px.bar stand-in)."""
    if not values:
        return f"<p>(no data for {_esc(title)})</p>"
    vmax = max(values) or 1.0
    n = len(values)
    bw = (_W - 2 * _PAD) / n
    bars, ticks = [], []
    for i, (lab, val) in enumerate(zip(labels, values)):
        h = (val / vmax) * (_H - 2 * _PAD)
        x = _PAD + i * bw
        bars.append(
            f'<rect x="{x:.1f}" y="{_H - _PAD - h:.1f}" width="{max(bw - 2, 1):.1f}" '
            f'height="{h:.1f}" fill="{_PALETTE[0]}"><title>{_esc(lab)}: {val}</title></rect>'
        )
        if n <= 12 or i % max(1, n // 12) == 0:
            ticks.append(
                f'<text x="{x + bw / 2:.1f}" y="{_H - _PAD + 14}" font-size="9" '
                f'text-anchor="middle">{_esc(str(lab)[:12])}</text>'
            )
    return (
        f'<svg viewBox="0 0 {_W} {_H}" role="img" aria-label="{_esc(title)}">'
        f'<text x="{_W / 2}" y="16" text-anchor="middle" font-size="13">{_esc(title)}</text>'
        f'<line x1="{_PAD}" y1="{_H - _PAD}" x2="{_W - _PAD}" y2="{_H - _PAD}" stroke="#888"/>'
        + "".join(bars)
        + "".join(ticks)
        + "</svg>"
    )


def _svg_scatter(
    xs: Sequence[float], ys: Sequence[float], cats: Sequence[object], title: str
) -> str:
    """px.scatter stand-in; categorical color wheel like the reference's
    optional color-by widget."""
    pts = [(x, y, c) for x, y, c in zip(xs, ys, cats) if x is not None and y is not None]
    if not pts:
        return f"<p>(no data for {_esc(title)})</p>"
    xlo, xhi = min(p[0] for p in pts), max(p[0] for p in pts)
    ylo, yhi = min(p[1] for p in pts), max(p[1] for p in pts)
    xspan, yspan = (xhi - xlo) or 1.0, (yhi - ylo) or 1.0
    color_of: dict[object, str] = {}
    dots = []
    for x, y, c in pts:
        col = color_of.setdefault(c, _PALETTE[len(color_of) % len(_PALETTE)])
        px_ = _PAD + (x - xlo) / xspan * (_W - 2 * _PAD)
        py_ = _H - _PAD - (y - ylo) / yspan * (_H - 2 * _PAD)
        dots.append(f'<circle cx="{px_:.1f}" cy="{py_:.1f}" r="2.4" fill="{col}" fill-opacity="0.7"/>')
    legend = "".join(
        f'<text x="{_W - _PAD + 2}" y="{30 + 14 * i}" font-size="10" fill="{col}">{_esc(str(c)[:14])}</text>'
        for i, (c, col) in enumerate(list(color_of.items())[:8])
    )
    return (
        f'<svg viewBox="0 0 {_W + 110} {_H}" role="img" aria-label="{_esc(title)}">'
        f'<text x="{_W / 2}" y="16" text-anchor="middle" font-size="13">{_esc(title)}</text>'
        f'<line x1="{_PAD}" y1="{_H - _PAD}" x2="{_W - _PAD}" y2="{_H - _PAD}" stroke="#888"/>'
        f'<line x1="{_PAD}" y1="{_PAD}" x2="{_PAD}" y2="{_H - _PAD}" stroke="#888"/>'
        + "".join(dots) + legend + "</svg>"
    )


def _html_table(rows: list[dict], max_rows: int = 25) -> str:
    if not rows:
        return "<p>(empty)</p>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{_esc(c)}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{_esc(r.get(c))}</td>" for c in cols) + "</tr>"
        for r in rows[:max_rows]
    )
    return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"


def html_page(title: str, body: str) -> str:
    return (
        f"<!doctype html><html><head><meta charset='utf-8'><title>{_esc(title)}"
        f"</title>{_STYLE}</head><body><h1>{_esc(title)}</h1>{body}</body></html>"
    )


def _bars(rows: list, label: str, title: str) -> str:
    return _svg_bars([r[label] for r in rows], [r["count"] for r in rows], title)


def preview_table(df: DataFrame) -> str:
    return _html_table([r.asDict() for r in df.limit(5).collect()])


def histogram_chart(df: DataFrame, stats: dict, column: str, bins: int) -> str:
    """Numeric histogram over the ``table_stats`` bounds; a column with no
    non-NULL value is an empty chart."""
    lo, hi = stats["bounds"][column]
    rows = [] if lo is None else histogram_numeric(
        df, column, bins, min_val=lo, max_val=hi).collect()
    return _bars(rows, "bucket", f"Distribution of {column}")


def timeline_chart(df: DataFrame, stats: dict, column: str, bins: int) -> str:
    """Records-over-time bars over the ``table_stats`` bounds."""
    lo, hi = stats["bounds"][column]
    rows = [] if lo is None else histogram_time(
        df, column, bins, min_ts=lo, max_ts=hi).collect()
    return _bars(rows, "bucket", f"Records over time by {column}")


def categories_chart(df: DataFrame, column: str, k: int) -> str:
    return _bars(top_categories(df, column, k).collect(), column,
                 f"Top {k} values of {column}")


def scatter_chart(df: DataFrame, stats: dict, x: str, y: str, color: str | None,
                  id_col: str | None) -> str:
    """About 1,000 points sampled against the ``table_stats`` row count."""
    pts = scatter_sample(df, x, y, color, max_points=1000, id_col=id_col,
                         total_rows=stats["rows"]).collect()
    return _svg_scatter(
        [r[x] for r in pts], [r[y] for r in pts],
        [r[color] if color else "all" for r in pts],
        f"{y} vs {x}" + (f" colored by {color}" if color else ""))


def quality_section(logs_df: DataFrame) -> tuple[str, list]:
    """The Data Quality tab (reference interactive_dashboard.py:134-177)
    from the file × reason counts and the affected-entity counts. The
    reason bars sum the file × reason rows, in ``value_counts`` order
    (count descending, reason ascending, NULL first). Returns the HTML and
    the reasons in bar order."""
    rep = quality_report(logs_df)
    files = rep["file_reason_counts"].collect()
    totals: Counter = Counter()
    for r in files:
        totals[r["reason"]] += r["count"]
    reasons = sorted(totals, key=lambda v: (-totals[v], v is not None, v or ""))
    files.sort(key=lambda r: [(v is not None, v or "") for v in (r["filename"], r["reason"])])
    html_ = "\n".join([
        _svg_bars(reasons, [totals[r] for r in reasons], "Frequency of Data Quality Issues"),
        "<h3>Issues per source file</h3>",
        _html_table([r.asDict() for r in files]),
        "<h3>Affected patients</h3>",
        _html_table([r.asDict() for r in rep["affected_entities"].collect()]),
    ])
    return html_, reasons


def render_dashboard(
    tables: dict[str, DataFrame],
    out_path: str,
    *,
    logs_table: str = "logs",
    id_cols: dict[str, str] | None = None,
) -> str:
    """Write the full static dashboard; returns out_path. ``id_cols`` maps
    table → integral key enabling the deterministic scatter sample."""
    id_cols = id_cols or {}
    sections = []
    for name, df in tables.items():
        if name == logs_table:
            sections.append("<h2>Data Quality</h2>\n" + quality_section(df)[0])
            continue
        # the reference's tabs (interactive_dashboard.py:52-121)
        stats = table_stats(df)
        num, cat = stats["kinds"]["numeric"], stats["kinds"]["categorical"]
        parts = [f"<h2>{_esc(name)}</h2>", "<h3>Preview</h3>", preview_table(df)]
        parts += [histogram_chart(df, stats, c, 30) for c in num[:3]]
        if len(num) >= 2:
            parts.append(scatter_chart(df, stats, num[0], num[1], cat[0] if cat else None,
                                       id_cols.get(name)))
        parts += [timeline_chart(df, stats, c, 50) for c in stats["kinds"]["datetime"][:2]]
        parts += [categories_chart(df, c, 10) for c in cat[:2]]
        sections.append("\n".join(parts))
    doc = html_page("ETL Data Distribution Dashboard", "\n".join(sections))
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(doc)
    return out_path
