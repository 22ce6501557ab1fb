"""Static HTML dashboard renderer (analytics/render.py) — the runnable
stand-in for the reference's Streamlit app, built on the pushdown widget
queries so only render-sized data reaches the driver."""

import pytest

from assignment_etl_spark.analytics.render import (
    _svg_bars,
    _svg_scatter,
    render_dashboard,
)
from assignment_etl_spark.pipelines.runner import run_etl


@pytest.fixture(scope="module")
def etl(spark, fixture_dir):
    return run_etl(
        spark,
        str(fixture_dir / "patients.csv"),
        str(fixture_dir / "encounters.csv"),
        str(fixture_dir / "diagnoses.xml"),
    )


def test_svg_bars_structure():
    svg = _svg_bars(["a", "b"], [3, 1], "t")
    assert svg.count("<rect") == 2 and 'aria-label="t"' in svg
    # tallest bar spans the full plot height
    assert "height=\"140.0\"" in svg
    assert _svg_bars([], [], "empty").startswith("<p>")


def test_svg_scatter_structure():
    svg = _svg_scatter([1.0, 2.0, None], [1.0, 4.0, 9.0], ["x", "y", "z"], "s")
    assert svg.count("<circle") == 2  # None x dropped
    assert svg.count("<text") >= 3  # title + 2 legend entries


def test_render_dashboard_end_to_end(etl, tmp_path):
    out = str(tmp_path / "dash.html")
    path = render_dashboard(etl.tables(), out)
    html = open(path, encoding="utf-8").read()
    # one section per table, logs rendered as the quality tab
    for name in ["patients", "encounters", "diagnoses"]:
        assert f"<h2>{name}</h2>" in html
    assert "<h2>Data Quality</h2>" in html
    # widget inventory: previews, numeric histograms + scatter for tables
    # with >=2 numeric cols (patients: height_cm/weight_kg/sex_iso),
    # time histograms, categorical top-N, quality reason bars
    assert html.count("<h3>Preview</h3>") == 3
    assert "Distribution of height_cm" in html
    assert "weight_kg vs height_cm" in html
    assert "Records over time by admit_dt" in html
    assert "Frequency of Data Quality Issues" in html
    assert "Issues per source file" in html
    # self-contained: no external script/img references
    assert "<script" not in html and "http" not in html.split("</title>")[1]
