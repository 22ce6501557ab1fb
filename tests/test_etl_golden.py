"""Full-row golden of ``run_etl(ri_audit=True)`` on the conftest fixtures.

``test_pipelines`` checks the log-reason histogram and chosen cells; this
file pins every column of every row: the three clean tables and all nine
columns of the ``logs`` table, compared as sorted multisets. The golden in
``fixtures/etl_golden.json`` was written by the per-rule ``log_frame``
pipelines that preceded the tagged-frame pipelines, so it checks that the
single-pass rewrite kept every value, every NULL and every row count.

Regenerate (only when a rule deliberately changes):
    python tests/test_etl_golden.py --write
"""

from __future__ import annotations

import json
import os
import sys

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "etl_golden.json")


def _cell(v):
    # floats round-trip exactly through JSON; timestamps as ISO text
    return v if v is None or isinstance(v, (bool, int, float, str)) else v.isoformat()


def snapshot(result) -> dict[str, list[list]]:
    """Every table of an EtlResult as a sorted list of rows (columns in
    schema order, header row first)."""
    out = {}
    for name, df in result.tables().items():
        rows = [[_cell(v) for v in r] for r in df.collect()]
        rows.sort(key=lambda r: [(v is None, str(v)) for v in r])
        out[name] = [df.columns] + rows
    return out


def _run(spark, d):
    from assignment_etl_spark.pipelines.runner import run_etl

    return run_etl(
        spark,
        os.path.join(d, "patients.csv"),
        os.path.join(d, "encounters.csv"),
        os.path.join(d, "diagnoses.xml"),
        ri_audit=True,
    )


def test_full_rows_match_golden(spark, fixture_dir):
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    got = snapshot(_run(spark, str(fixture_dir)))
    assert set(got) == set(golden)
    for name in golden:
        assert got[name][0] == golden[name][0], f"{name} columns"
        assert got[name][1:] == golden[name][1:], f"{name} rows differ"


if __name__ == "__main__" and sys.argv[1:] == ["--write"]:
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [os.path.dirname(here), here]
    import conftest as fx

    from assignment_etl_spark.session import get_spark

    d = tempfile.mkdtemp()
    for fname, text in (("patients.csv", fx.PATIENTS_CSV),
                        ("encounters.csv", fx.ENCOUNTERS_CSV),
                        ("diagnoses.xml", fx.DIAGNOSES_XML)):
        with open(os.path.join(d, fname), "wb") as fh:
            fh.write(text.encode("utf-8"))
    spark = get_spark("golden", master="local[4]", shuffle_partitions=4)
    tables = snapshot(_run(spark, d))
    with open(GOLDEN, "w") as fh:  # one row per line, so diffs read by row
        fh.write("{\n" + ",\n".join(
            f"{json.dumps(name)}: [\n"
            + ",\n".join(json.dumps(r, ensure_ascii=False) for r in rows) + "\n]"
            for name, rows in tables.items()) + "\n}\n")
    spark.stop()
